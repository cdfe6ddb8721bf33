package graft

import graft.core.{IO, PanelCols}
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` where the op
  * is SQL-expressible) per implemented operator from SURVEY.md §2.
  *
  * Float-parity discipline (so hashes match the DuckDB oracle):
  *  - big global sums go through exact DECIMAL arithmetic, cast back to
  *    double once (order-independent, engine-independent);
  *  - small per-series float aggregates are rounded to 6 decimals on both
  *    sides (window-frame summation order differs between engines by ~1
  *    ulp; magnitudes here make 6 decimals safe);
  *  - timestamps are µs-precision NTZ end-to-end (see [[graft.core.IO]]).
  */
object SparkEntry {

  /** Events panel: series = user, time = event ts, target = value.
    * event_id tie-breaks duplicate timestamps so row order is total. */
  implicit private val PC: PanelCols =
    PanelCols("user_id", "ts", "value", tieBreak = Seq("event_id"))

  private val W = "PARTITION BY user_id ORDER BY ts, event_id"

  private def dec(c: String): Column = col(c).cast("decimal(18,2)")
  private def r6(c: Column): Column = round(c, 6)
  // +1e-9 tie-nudge before rounding: values landing on exact .5e-6 boundaries
  // round differently across engines (Spark HALF_UP on double vs DuckDB);
  // the nudge pushes both engines to the same side (same trick as
  // ts_seasonal_decomp). Apply the identical nudge in the oracle SQL.
  private def r6n(c: Column): Column = round(c + 1e-9, 6)

  /** Round-to-6 with the shared 1e-9 tie-nudge, driver-side (the Column
    * r6n twin) — used where a Scala-computed scalar must hash-match the
    * oracle's `round(x + 1e-9, 6)`. */
  private def r6dbl(v: Double): Double =
    BigDecimal(v + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Max |a−b| over two fitted-parameter matrices; MaxValue on any shape
    * mismatch so a refit-vs-pin audit fails the gate loudly. */
  private def maxAbsDiff2(a: Array[Array[Double]], b: Array[Array[Double]]): Double =
    if (a.length != b.length ||
        a.zip(b).exists { case (x, y) => x.length != y.length }) Double.MaxValue
    else a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
      x.zip(y).foldLeft(acc) { case (m, (u, v)) => math.max(m, math.abs(u - v)) }
    }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── relational spine ────────────────────────────────────────────────
    "q1_agg" -> ((s, dir) =>
      IO.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(3,2)") - dec("l_discount")))
            .cast("double").as("sum_disc_price"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(3,2)") - dec("l_discount"))
            * (lit(1).cast("decimal(3,2)") + dec("l_tax")))
            .cast("double").as("sum_charge"),
          (sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec("l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
          (sum(dec("l_discount")).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q3_topk" -> ((s, dir) =>
      IO.lineitem(s, dir)
        .join(IO.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp_ntz") &&
          col("l_shipdate") > lit("1995-03-15").cast("timestamp_ntz"))
        .groupBy("l_orderkey")
        .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(3,2)") - dec("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)),

    // ── feature engineering (L1, pure window exprs) ─────────────────────
    "ts_lag_features" -> ((s, dir) =>
      Features.lagFeatures(IO.events(s, dir), Seq(1, 7))
        .select("user_id", "event_id", "ts", "value", "value_lag_1", "value_lag_7")),

    "ts_rolling_features" -> ((s, dir) =>
      Features.rollingFeatures(IO.events(s, dir), Seq(7), Seq("mean", "std", "min", "max"))
        .select(col("user_id"), col("event_id"),
          r6(col("value_rolling_mean_7")).as("roll_mean_7"),
          r6(col("value_rolling_std_7")).as("roll_std_7"),
          col("value_rolling_min_7").as("roll_min_7"),
          col("value_rolling_max_7").as("roll_max_7"))),

    "ts_calendar_features" -> ((s, dir) =>
      Features.calendarFeatures(IO.events(s, dir),
        Seq("day_of_week", "day_of_month", "day_of_year", "week", "month",
          "quarter", "year", "hour", "is_weekend"))
        .select(col("event_id"),
          col("day_of_week").cast("int").as("day_of_week"),
          col("day_of_month").cast("int").as("day_of_month"),
          col("day_of_year").cast("int").as("day_of_year"),
          col("week").cast("int").as("week"),
          col("month").cast("int").as("month"),
          col("quarter").cast("int").as("quarter"),
          col("year").cast("int").as("year"),
          col("hour").cast("int").as("hour"),
          col("is_weekend").cast("int").as("is_weekend"))),

    "ts_fourier_features" -> ((s, dir) =>
      Features.fourierFeatures(IO.events(s, dir), 24.0, 2)
        .select(col("user_id"), col("event_id"),
          r6n(col("fourier_sin_24_1")).as("fsin_1"), r6n(col("fourier_cos_24_1")).as("fcos_1"),
          r6n(col("fourier_sin_24_2")).as("fsin_2"), r6n(col("fourier_cos_24_2")).as("fcos_2"))),

    "ts_target_encode" -> ((s, dir) =>
      Features.targetEncode(IO.events(s, dir), "event_type", smoothing = 10.0)
        .select(col("event_type"), col("event_type_encoded")).distinct()
        .select(col("event_type"), r6(col("event_type_encoded")).as("encoded"))),

    // ── preprocessing ───────────────────────────────────────────────────
    "ts_impute_ffill" -> ((s, dir) =>
      Impute.impute(withSynthNulls(IO.events(s, dir)), "forward_fill")
        .select("user_id", "event_id", "ts", "value")),

    "ts_impute_linear" -> ((s, dir) =>
      Impute.impute(withSynthNulls(IO.events(s, dir)), "linear")
        .select(col("user_id"), col("event_id"), col("ts"), r6(col("value")).as("value"))),

    "ts_impute_mean" -> ((s, dir) =>
      Impute.impute(withSynthNulls(IO.events(s, dir)), "mean")
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_outlier_zscore" -> ((s, dir) =>
      Outliers.detect(IO.events(s, dir), "zscore", 3.0)
        .select("user_id", "event_id", "value", "is_outlier")),

    "ts_outlier_iqr_clip" -> ((s, dir) =>
      Outliers.treat(Outliers.detect(IO.events(s, dir), "iqr"), "clip")
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_resample_hour" -> ((s, dir) =>
      Resample.downsample(IO.events(s, dir), "hour", "mean")
        .select(col("user_id"), col("ts"), r6(col("value")).as("value"))),

    // polars group_by_dynamic: 2h windows sliding every 30m (each row in
    // 4 windows) — Spark's native window() is the operator
    "ts_group_dynamic" -> ((s, dir) =>
      Resample.groupByDynamic(IO.events(s, dir),
          every = "30 minutes", period = "2 hours")
        .select(col("user_id"), col("ts"), r6(col("value")).as("value"),
          col("n_obs"))),

    // semi-structured scan surface: the events props JSON parsed ONCE
    // per row with an explicit schema (from_json, codegen'd — at 100 TB
    // the one-pass schema'd parse beats per-path get_json_object calls)
    "ts_json_props" -> ((s, dir) =>
      IO.events(s, dir)
        .withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
        .groupBy("user_id", "event_type")
        .agg(sum(col("k").cast("long")).as("k_sum"), count(lit(1)).as("n"))),

    // polars ewm_mean/ewm_var (adjusted): weighted-moment Horner fold
    "ts_ewm" -> ((s, dir) =>
      Features.ewmFeatures(IO.events(s, dir), alpha = 0.3)
        .select(col("user_id"), col("ts"),
          r6n(col("value_ewm_mean")).as("ewm_mean"),
          r6n(col("value_ewm_var")).as("ewm_var"))),

    // polars rolling_*_by: trailing 6h half-open time window per row
    "ts_rolling_by_time" -> ((s, dir) =>
      Features.rollingByTime(IO.events(s, dir), windowUs = 6L * 3600 * 1000000,
          aggs = Seq("mean", "count"))
        .select(col("user_id"), col("event_id"),
          r6n(col("value_troll_mean")).as("troll_mean"),
          col("value_troll_count").as("troll_n"))),

    "ts_cusum" -> ((s, dir) =>
      Changepoint.cusum(IO.events(s, dir))
        .select(col("user_id"), col("event_id"), r6n(col("cusum")).as("cusum"))),

    // ── trend / stats kernels ───────────────────────────────────────────
    "ts_mann_kendall" -> ((s, dir) =>
      Changepoint.mannKendall(IO.events(s, dir))
        .select(col("user_id"), r6(col("mann_kendall")).as("mann_kendall"))),

    "ts_sens_slope" -> ((s, dir) =>
      Changepoint.sensSlope(IO.events(s, dir))
        .select(col("user_id"), r6(col("sens_slope")).as("sens_slope"))),

    // unpruned = exact optimal partitioning, replayable in the oracle
    "ts_pelt" -> ((s, dir) =>
      Changepoint.pelt(IO.events(s, dir), "mean", prune = false)),

    // production default: minSize-aware delayed prune (Pelt.detect) —
    // returns the same optimal partitioning as the exact scan, so it
    // shares the exact query's oracle SQL
    "ts_pelt_pruned" -> ((s, dir) =>
      Changepoint.pelt(IO.events(s, dir), "mean", prune = true)),

    "ts_bocpd" -> ((s, dir) =>
      Changepoint.bocpd(IO.events(s, dir), hazardRate = 200.0)
        .select(col("user_id"), col("ts"), col("run_length"),
          r6n(col("changepoint_prob")).as("changepoint_prob"))),

    // the truncated long-series form (r11): run-length hypotheses below
    // 1e-12 posterior pruned each step — O(n·K) instead of O(n²), the
    // same oracle (dropped mass < K·1e-12/step vanishes under 6-dp
    // rounding, pinned exactly by the gate hash)
    "ts_bocpd_pruned" -> ((s, dir) =>
      Changepoint.bocpd(IO.events(s, dir), hazardRate = 200.0,
          pruneThreshold = 1e-12)
        .select(col("user_id"), col("ts"), col("run_length"),
          r6n(col("changepoint_prob")).as("changepoint_prob"))),

    // ── forecasting ─────────────────────────────────────────────────────
    "ts_naive_fc" -> ((s, dir) =>
      ForecastBaselines.naive(IO.events(s, dir), h = 7)),

    "ts_seasonal_naive_fc" -> ((s, dir) =>
      ForecastBaselines.seasonalNaive(IO.events(s, dir), h = 7, seasonLength = 24)),

    "ts_moving_average_fc" -> ((s, dir) =>
      ForecastBaselines.movingAverage(IO.events(s, dir), h = 7, window = 12)
        .select(col("user_id"), col("step"), col("ts"), r6(col("y_hat")).as("y_hat"))),

    "ts_ses_fc" -> ((s, dir) =>
      ForecastBaselines.ses(IO.events(s, dir), h = 7, alpha = 0.3)
        .select(col("user_id"), col("step"), col("ts"), r6(col("y_hat")).as("y_hat"))),

    "ts_metrics_persistence" -> ((s, dir) => {
      val withPred = IO.events(s, dir)
        .withColumn("y_hat", lag(col("value"), 1).over(PC.w))
        .filter(col("y_hat").isNotNull)
      Metrics.grouped(withPred, "value", "y_hat")
        .select(col("user_id"), r6(col("mae")).as("mae"), r6(col("rmse")).as("rmse"),
          r6(col("mape")).as("mape"), r6(col("smape")).as("smape"))
    }),

    // ── training-data pipeline ops ──────────────────────────────────────
    "doc_dedup_exact" -> ((s, dir) =>
      Dedup.exact(IO.documents(s, dir))
        .select("doc_id", "dup_count", "is_duplicate")),

    "doc_quality" -> ((s, dir) =>
      TextOps.qualityMetrics(IO.documents(s, dir).drop("n_chars"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          r6(col("mean_word_len")).as("mean_word_len"),
          r6(col("punct_ratio")).as("punct_ratio"),
          r6(col("digit_ratio")).as("digit_ratio"),
          col("quality_score"))),

    "doc_lang_id" -> ((s, dir) =>
      TextOps.languageId(IO.documents(s, dir))
        .select("doc_id", "lang_pred")),

    // CCNet-style LM quality: corpus unigram table (top-500 types) →
    // per-doc mean token log-prob with an OOV floor
    "doc_unigram_logprob" -> ((s, dir) =>
      TextOps.unigramLogProb(IO.documents(s, dir), vocabSize = 500)
        .select(col("doc_id"), col("n_tokens"),
          r6n(col("avg_logp")).as("avg_logp"))),

    "doc_simhash" -> ((s, dir) =>
      Dedup.simhash(IO.documents(s, dir))
        .select("doc_id", "simhash")),

    // ── round-9 data-selection tier ─────────────────────────────────────
    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // models, target slice = English docs, raw = full corpus. No pinned
    // state: the oracle replays BOTH bucket models from scratch.
    "doc_dsir_weights" -> ((s, dir) =>
      Selection.dsirWeights(IO.documents(s, dir), col("lang") === "en",
        buckets = 64)
        .select(col("doc_id"), col("n_grams"), r6n(col("log_w")).as("log_w"))),

    // DSIR Gumbel top-k resample: deterministic FNV/fmix64 Gumbel keys,
    // distributed TakeOrdered top-100
    "doc_dsir_resample" -> ((s, dir) =>
      Selection.dsirResample(IO.documents(s, dir), col("lang") === "en",
        k = 100, buckets = 64)
        .select(col("doc_id"), col("n_grams"),
          r6n(col("log_w")).as("log_w"),
          r6n(col("gumbel_key")).as("gumbel_key"))),

    // score-aware domain mixture: per-source mean DSIR importance weight
    // softmaxed (T=2) into mixture weights + budget-300 quotas
    "doc_domain_mix" -> ((s, dir) => {
      val docs = IO.documents(s, dir)
      val scored = Selection.dsirWeights(docs, col("lang") === "en",
          buckets = 64)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      Selection.domainMixWeights(scored, "source", "log_w",
          temperature = 2.0, budget = 300L)
        .select(col("source"), col("n_docs"),
          r6n(col("mean_score")).as("mean_score"),
          r6n(col("mix_weight")).as("mix_weight"), col("quota"))
    }),

    // fastText-style hashed-gram logistic quality score under the pinned
    // fit (the oracle inlines the 64 weights and replays the full
    // distributed scoring pass; the fit itself is audited below)
    "doc_quality_classifier" -> ((s, dir) => {
      val m = OraclePins.textClassifier.getOrElse(
        Selection.textClassifierFit(IO.documents(s, dir),
          col("lang") === "en", buckets = 64, sampleCap = 1000))
      Selection.textClassifierScore(IO.documents(s, dir), m)
        .select(col("doc_id"), col("n_grams"),
          r6n(col("quality_prob")).as("quality_prob"))
    }),

    // refit-vs-pin audit (the emb_pca_var pattern): the deterministic
    // logistic fit re-runs from scratch and must land on the pin exactly
    "doc_classifier_refit_audit" -> ((s, dir) => {
      val refit = Selection.textClassifierFit(IO.documents(s, dir),
        col("lang") === "en", buckets = 64, sampleCap = 1000)
      val pin = OraclePins.textClassifier.getOrElse(refit)
      val diff = math.max(math.abs(refit.bias - pin.bias),
        refit.weights.zip(pin.weights).map(t => math.abs(t._1 - t._2)).max)
      import s.implicits._
      Seq((refit.buckets, r6dbl(diff))).toDF("buckets", "max_abs_diff")
    }),

    // Unicode normalization over a deterministically-dirtied corpus:
    // combining accents (NFC), NBSP/zero-width/BEL/CRLF/tab injection —
    // the cleanup pass before fingerprinting
    "doc_normalize" -> ((s, dir) => {
      val messy = concat(
        lit("Cafe\u0301 du\u00A0monde\u200B \u0007 line one \r\n\ttab  end "),
        col("text"))
      TextOps.normalizeText(
          IO.documents(s, dir).withColumn("text", messy))
        .select(col("doc_id"), col("norm_text"),
          length(col("text")).cast("long").as("raw_len"),
          length(col("norm_text")).cast("long").as("norm_len"))
    }),

    // GPT-2-style pre-tokenization (the stage before BPE merges):
    // count + fingerprint of the full token stream pins both the
    // pattern semantics and the token ORDER across engines
    "doc_pretokenize" -> ((s, dir) => {
      val toks = col("pre_tokens")
      TextOps.preTokenize(IO.documents(s, dir))
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          graft.plans.Fnv64(array_join(toks, "\u0001")).as("tok_fp"),
          coalesce(array_max(transform(toks, t => length(t))), lit(0))
            .cast("long").as("max_tok_len"))
    }),

    // HTML → plain text (C4/RefinedWeb entry stage) over a
    // deterministically-marked-up corpus: script/style/comment removal,
    // block tags → newlines, entity decode, whitespace normalization
    "doc_html_strip" -> ((s, dir) =>
      TextOps.htmlStrip(htmlDocs(IO.documents(s, dir)))
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("text_len"))),

    // pack materialization: the actual fixed-length training sequences
    // (per (shard, seq): position-ordered FNV-vocab token ids)
    "doc_pack_execute" -> ((s, dir) =>
      Packing.executePack(IO.documents(s, dir), seqLen = 128, nShards = 8)
        .select(col("shard"), col("seq_index"), col("n_tokens"),
          col("token_ids"))),

    // Lee et al. span dedup over a corpus with an injected shared tail
    // (doc_id%3 slice): runs of >= 4 consecutive cross-doc-duplicated
    // 5-gram windows are deleted word-spans
    "doc_span_dedup" -> ((s, dir) => {
      val boiler = " the quick brown fox jumps over the lazy dog today"
      val docs = IO.documents(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(boiler))).otherwise(col("text")))
      Dedup.spanDedup(docs)
        .select(col("doc_id"), col("n_words"), col("n_removed_words"),
          col("clean_text"))
    }),

    // RefinedWeb-style cross-corpus line dedup on a deterministically
    // "lined" corpus (8-word chunks + boilerplate lines injected into
    // doc_id%3 / doc_id%4 slices — the raw word-soup docs have no \n)
    "doc_line_dedup" -> ((s, dir) => {
      Dedup.lineDedup(linedDocs(IO.documents(s, dir)), minDocs = 2)
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          col("clean_text"))
    }),

    // true-CCNet cross-perplexity: KN model fit on the TARGET slice
    // (lang = en) only, every document scored under it — unseen bigrams
    // back off through the continuation distribution with the 0.5/B
    // floor (TextOps.knLogProb); the oracle replays fit, backoff and
    // floor from scratch
    "doc_kn_target_ppl" -> ((s, dir) => {
      val docs = IO.documents(s, dir)
      val m = TextOps.knModelFit(docs.filter(col("lang") === "en"),
        buckets = 2048)
      graft.streaming.StreamingOps.streamingKnScore(docs, m)
        .select(col("doc_id"), col("n_bigrams"),
          r6n(col("avg_logp")).as("avg_logp"), r6n(col("ppl")).as("ppl"))
    }),

    // CCNet perplexity filter, bigram Kneser-Ney edition: corpus-fit
    // hashed-bigram KN model, per-doc perplexity, head/middle/tail
    // tercile bucket from the binned histogram (no corpus-wide sort)
    "doc_kn_perplexity" -> ((s, dir) =>
      TextOps.knPerplexity(IO.documents(s, dir), buckets = 4096)
        .select(col("doc_id"), col("n_bigrams"),
          r6n(col("avg_logp")).as("avg_logp"),
          r6n(col("ppl")).as("ppl"), col("bucket"))),

    // refit-vs-pin audit for the IVF coarse quantizer — the pin behind
    // emb_knn_ivf / emb_knn_ivfpq / emb_semdedup / emb_topic_* /
    // emb_prototype_prune; the deterministic sampled-Lloyd fit must
    // land on the pinned doubles exactly
    "emb_ivf_refit_audit" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      val refit = Similarity.ivfCentroids(emb)
      val pin = OraclePins.ivfCenters.getOrElse(refit)
      import s.implicits._
      Seq((refit.length, r6dbl(maxAbsDiff2(refit, pin))))
        .toDF("n_cells", "max_abs_diff")
    }),

    "emb_knn_brute" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 3)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"),
          col("rank"))
    }),

    "emb_knn_lsh" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 3, dim = 64, bits = 6,
        probes = 8)
        .select(col("query_id"), col("neighbor_id"),
          r6n(col("cosine")).as("cosine"), col("rank"))
    }),

    // ── transforms ──────────────────────────────────────────────────────
    "ts_log_transform" -> ((s, dir) =>
      Transforms.logTransform(IO.events(s, dir))
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_boxcox" -> ((s, dir) =>
      Transforms.boxcoxTransform(
        IO.events(s, dir).withColumn("value", col("value") + 1.0), 0.5)
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_diff_roundtrip" -> ((s, dir) =>
      Transforms.undifference(
        Transforms.difference(IO.events(s, dir), d = 2, m = 3), d = 2, m = 3)
        .select(col("user_id"), col("ts"), r6(col("value")).as("value"))),

    "ts_difference_seasonal" -> ((s, dir) =>
      Transforms.difference(IO.events(s, dir), d = 1, m = 24)
        .select("user_id", "event_id", "value")),

    // decomposition values land on exact .5µ rounding ties (0.01 data grid
    // ÷ 24/3 group sizes); +1e-9 nudges both engines to the same side.
    "ts_seasonal_decomp" -> ((s, dir) =>
      Decomposition.seasonal(IO.events(s, dir), freq = 24)
        .select(col("user_id"), col("event_id"),
          round(col("trend") + 1e-9, 6).as("trend"),
          round(col("seasonal") + 1e-9, 6).as("seasonal"),
          round(col("resid") + 1e-9, 6).as("resid"))),

    "ts_strength_features" -> ((s, dir) =>
      Decomposition.strengthFeatures(IO.events(s, dir), freq = 24)
        .select(col("user_id"), r6n(col("trend_strength")).as("trend_strength"),
          r6n(col("seasonal_strength")).as("seasonal_strength"),
          r6n(col("resid_var")).as("resid_var"))),

    "ts_mstl_features" -> ((s, dir) =>
      Decomposition.mstlStrengthFeatures(IO.events(s, dir),
          periods = Seq(12, 24), iterations = 2)
        .select(col("user_id"), r6n(col("trend_strength")).as("trend_strength"),
          r6n(col("seasonal_12_strength")).as("seasonal_12_strength"),
          r6n(col("seasonal_24_strength")).as("seasonal_24_strength"),
          r6n(col("resid_var")).as("resid_var"))),

    "ts_mstl_decomp" -> ((s, dir) =>
      Decomposition.mstl(IO.events(s, dir), periods = Seq(12, 24), iterations = 2)
        .select(col("user_id"), col("event_id"),
          r6n(col("trend")).as("trend"),
          r6n(col("seasonal_12")).as("seasonal_12"),
          r6n(col("seasonal_24")).as("seasonal_24"),
          r6n(col("resid")).as("resid"))),

    // the grouped-kernel PRODUCTION path (one collect_list shuffle vs the
    // row-level twin's 19 exchanges), gated against the SAME row-level
    // SQL replay — the paths agree to 1e-9, inside the shared 6-dp nudge
    "ts_mstl_grouped" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      Decomposition.mstlGrouped(ev, periods = Seq(12, 24), iterations = 2)
        .join(ev.select(col("user_id"), col("ts"), col("event_id")),
          Seq("user_id", "ts"))
        .select(col("user_id"), col("event_id"),
          r6n(col("trend")).as("trend"),
          r6n(col("seasonal_12")).as("seasonal_12"),
          r6n(col("seasonal_24")).as("seasonal_24"),
          r6n(col("resid")).as("resid"))
    }),

    // ── conformal / diagnostics / validation ────────────────────────────
    "ts_conformal" -> ((s, dir) => {
      val ev = IO.events(s, dir)
        .withColumn("y_hat", lag(col("value"), 1).over(PC.w))
        .withColumn("__rn", row_number().over(PC.w))
        .withColumn("__n", count(lit(1)).over(PC.wAll))
      val cal = ev.filter(col("__rn") <= floor(col("__n") * 0.8) && col("y_hat").isNotNull)
      val pred = ev.filter(col("__rn") > floor(col("__n") * 0.8))
      Conformal.interval(cal, pred, "value", "y_hat", alpha = 0.1)
        .select(col("user_id"), col("event_id"),
          r6(col("y_hat_lower")).as("y_hat_lower"), r6(col("y_hat_upper")).as("y_hat_upper"))
    }),

    "ts_acf" -> ((s, dir) =>
      Diagnostics.acf(IO.events(s, dir), maxLag = 5)
        .select(col("user_id"), col("lag").cast("long").as("lag"),
          r6(col("acf")).as("acf"), r6(col("ci_upper")).as("ci_upper"))),

    "ts_pacf" -> ((s, dir) =>
      Diagnostics.pacf(IO.events(s, dir), maxLag = 5)
        .select(col("user_id"), col("lag").cast("long").as("lag"),
          r6n(col("pacf")).as("pacf"))),

    "ts_ljung_box" -> ((s, dir) =>
      Diagnostics.ljungBox(IO.events(s, dir), maxLag = 5)
        .select(col("user_id"), r6(col("q_stat")).as("q_stat"))),

    "ts_cv_expanding" -> ((s, dir) =>
      Validation.expandingWindowCv(IO.events(s, dir), folds = 3, horizon = 24)
        .groupBy(col("fold"), col("split")).agg(count(lit(1)).as("n_rows"))),

    "ts_bias" -> ((s, dir) => {
      val p = IO.events(s, dir)
        .withColumn("y_hat", lag(col("value"), 1).over(PC.w))
        .filter(col("y_hat").isNotNull)
      Evaluation.biasDetect(p, "value", "y_hat")
        .select(col("user_id"), r6(col("mean_error")).as("mean_error"),
          r6(col("sign_ratio")).as("sign_ratio"), r6(col("bias_ratio")).as("bias_ratio"))
    }),

    "ts_calibration" -> ((s, dir) => {
      val q = persistenceQuantiles(s, dir)
      Evaluation.calibrationTable(q, "value",
        Map("q_10" -> 0.1, "q_50" -> 0.5, "q_90" -> 0.9))
        .select(col("nominal"), r6(col("empirical")).as("empirical"))
    }),

    "ts_crps" -> ((s, dir) =>
      Metrics.crps(persistenceQuantiles(s, dir), "value",
        Map("q_10" -> 0.1, "q_50" -> 0.5, "q_90" -> 0.9))
        .select(col("user_id"), r6(col("crps")).as("crps"))),

    "ts_ensemble_naive_ma" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      Evaluation.weightedEnsemble(Seq(
          ForecastBaselines.naive(ev, 7),
          ForecastBaselines.movingAverage(ev, 7, 12)), "y_hat")
        .select(col("user_id"), col("ts"), r6(col("y_hat")).as("y_hat"))
    }),

    "emb_knn_classify" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      val pairs = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
      Evaluation.knnClassify(pairs, emb, k = 5, scoreCol = "cosine", ascending = false)
    }),

    // ── kernel forecasts & pairwise distances (rows-only checks) ────────
    "ts_holt_fc" -> ((s, dir) =>
      ForecastBaselines.holt(IO.events(s, dir), h = 7)
        .select(col("user_id"), col("step"), col("ts"), r6(col("y_hat")).as("y_hat"))),

    "ts_hw_fc" -> ((s, dir) =>
      ForecastBaselines.holtWinters(IO.events(s, dir), h = 7, m = 24)
        .select(col("user_id"), col("step"), col("ts"), r6(col("y_hat")).as("y_hat"))),

    "ts_fft_fc" -> ((s, dir) =>
      ForecastBaselines.fft(IO.events(s, dir), h = 7)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_pairwise_dtw" -> ((s, dir) =>
      pairwiseOracle(s, dir, "dtw")),

    // matrix profile (r10, beyond-reference TS primitive): per-window
    // z-normalized nearest-neighbor distance (STOMP in the engine; the
    // oracle replays the direct O(n²m) definition — min over j is
    // rounding-stable even where the engine's rolling QT differs by
    // ulps). mp_idx stays spec-verified (argmin near-ties are not
    // rounding-stable); the profile VALUES are the gate row.
    "ts_matrix_profile" -> ((s, dir) =>
      Advanced.matrixProfile(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)), m = 8)
        .select(col("user_id"), col("idx").cast("long").as("idx"),
          r6n(col("mp")).as("mp"))),

    // complexity features (r10): permutation entropy (Bandt-Pompe m=3,
    // stable ordinal ranks — pure comparison counting) + SampEn(2, 16)
    // (absolute Chebyshev tolerance: 16 is exact in binary and both
    // counts are integer comparisons, so the oracle replays bit-for-bit;
    // only the final -Σ p·ln p / -ln(A/B) is float, absorbed by r6n)
    "ts_complexity" -> ((s, dir) =>
      Diagnostics.complexity(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        m = 3, sampM = 2, sampR = 16.0)
        .select(col("user_id"), r6n(col("perm_entropy")).as("perm_entropy"),
          r6n(col("sample_entropy")).as("sample_entropy"))),

    // pattern search (distance profile): top-3 closest z-norm matches of
    // a fixed triangle pattern per series — the pattern's values are
    // exact-in-binary integers so both engines parse identical doubles
    "ts_pattern_search" -> ((s, dir) =>
      Advanced.patternSearch(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        pattern = Array(0.0, 1.0, 2.0, 3.0, 2.0, 1.0, 0.0, -1.0), k = 3)
        .select(col("user_id"), col("idx").cast("long").as("idx"),
          col("dist"), col("match_rank").cast("long").as("match_rank"))),

    // top-3 motifs per series (lowest rounded profile = most-repeated
    // shape — the dual reading of the same profile)
    "ts_motifs" -> ((s, dir) =>
      Advanced.motifs(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        m = 8, k = 3)
        .select(col("user_id"), col("idx").cast("long").as("idx"),
          col("mp"), col("motif_rank").cast("long").as("motif_rank"))),

    // top-3 discords per series: rank over the ROUNDED profile so the
    // ordering is reproducible across engines (ties → window index)
    "ts_discords" -> ((s, dir) =>
      Advanced.discords(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        m = 8, k = 3)
        .select(col("user_id"), col("idx").cast("long").as("idx"),
          col("mp"), col("discord_rank").cast("long").as("discord_rank"))),

    // the distributed long-series path (r11): diagonal-block STOMP +
    // min(struct) merge — same oracle as ts_matrix_profile (blocked ≡
    // monolithic bit-exactly; the spec pins the unrounded equality,
    // this row pins it against the independent DuckDB replay)
    "ts_matrix_profile_blocked" -> ((s, dir) =>
      Advanced.matrixProfileBlocked(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        m = 8, numBlocks = 4)
        .select(col("user_id"), col("idx").cast("long").as("idx"),
          r6n(col("mp")).as("mp"))),

    // AB-join profile (r11): for each window of a user's CLICK series,
    // the nearest window of the same user's PURCHASE series (no
    // exclusion zone — distinct series). Values hash-checked; the
    // argmin stays spec-verified like ts_matrix_profile.
    "ts_mp_abjoin" -> ((s, dir) => {
      val e = IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
      Advanced.mpAbJoin(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"), m = 6)
        .select(col("user_id"), col("idx").cast("long").as("idx"),
          r6n(col("mp")).as("mp"))
    }),

    "ts_pairwise_sbd" -> ((s, dir) =>
      pairwiseOracle(s, dir, "sbd")),

    // ── clustering (distributed distances → driver cores → label table) ─
    // 60-series subset + deterministic first-3 init so the greedy PAM
    // swap chain is oracle-replayable (seeded-shuffle init stays default)
    "ts_kmedoids" -> ((s, dir) =>
      Clustering.kmedoids(IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        k = 3, metric = "sbd", init = Some(Array(0, 1, 2)))),

    // 60-series subset + eps tuned so the labeling is discriminative
    // (3 groups) and the oracle's SBD replay stays ~7 s
    "ts_dbscan" -> ((s, dir) =>
      Clustering.dbscanCluster(IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        eps = ForecastOracle.DbscanEps, minPts = ForecastOracle.DbscanMinPts,
        metric = "sbd")),

    // 60-series subset (oracle replays the 57-step merge chain as a
    // DuckDB fold over the flat distance matrix); full panel in _e2e
    "ts_agglomerative" -> ((s, dir) =>
      Clustering.agglomerativeCluster(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        k = 3, metric = "sbd")),

    "ts_agglomerative_e2e" -> ((s, dir) =>
      Clustering.agglomerativeCluster(IO.events(s, dir), k = 3, metric = "sbd")),

    "ts_cluster_eval" -> ((s, dir) => {
      val ev = IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
      Clustering.evaluate(ev, mod3Labels(ev), metric = "sbd")
        .select(r6n(col("silhouette")).as("silhouette"),
          r6n(col("davies_bouldin")).as("davies_bouldin"))
    }),

    // ── full-panel e2e variants — r12: hash-gated. Production defaults
    // the oracle-subset queries used to only smoke-run: seeded-shuffle
    // PAM init (pinned via Cluster.pamDefaultInit), full 150-series
    // pairwise SBD, eps 0.35 DBSCAN (bounded label-propagation replay),
    // and the clusterer→metric integration path (metrics scored on real
    // PAM labels) ────────────────────────────────────────────────────────
    "ts_kmedoids_e2e" -> ((s, dir) =>
      Clustering.kmedoids(IO.events(s, dir), k = 3, metric = "sbd")),

    "ts_dbscan_e2e" -> ((s, dir) =>
      Clustering.dbscanCluster(IO.events(s, dir), eps = 0.35, minPts = 3,
        metric = "sbd")),

    "ts_cluster_eval_e2e" -> ((s, dir) => {
      // single pairwise pass reused for BOTH the PAM fit and the metrics
      // (was: kmedoids + evaluate, each recomputing the SBD matrix;
      // VERDICT r7 ask #8)
      val ev = IO.events(s, dir)
      val (_, m) = Clustering.distanceMatrix("kmedoids", ev, "sbd")(PC)
      val (labels, _) = graft.kernels.Cluster.pam(m, k = 3)
      import s.implicits._
      Seq((graft.kernels.Cluster.silhouette(m, labels),
        graft.kernels.Cluster.daviesBouldin(m, labels)))
        .toDF("silhouette", "davies_bouldin")
        .select(r6n(col("silhouette")).as("silhouette"),
          r6n(col("davies_bouldin")).as("davies_bouldin"))
    }),

    "ts_pairwise_dtw_e2e" -> ((s, dir) =>
      Distances.pairwise(IO.events(s, dir), "dtw")
        .select(col("id_1"), col("id_2"), r6n(col("dtw")).as("dtw"))),

    // ── advanced kernels ────────────────────────────────────────────────
    "ts_rocket" -> ((s, dir) =>
      Advanced.rocketFeatures(IO.events(s, dir), nKernels = 20, inputLen = 64)),

    "ts_minirocket" -> ((s, dir) =>
      Advanced.miniRocketFeatures(IO.events(s, dir))),

    "ts_garch" -> ((s, dir) =>
      Advanced.garchForecast(
        IO.events(s, dir).filter(col("user_id") < ForecastOracle.NmSubsetUsers), h = 5)
        .select(col("user_id"), r6n(col("omega")).as("omega"),
          r6n(col("alpha")).as("alpha"), r6n(col("beta")).as("beta"),
          col("step"), r6n(col("sigma")).as("sigma"))),

    "ts_garch_e2e" -> ((s, dir) =>
      Advanced.garchForecast(IO.events(s, dir), h = 5)
        .select(col("user_id"), r6n(col("omega")).as("omega"),
          r6n(col("alpha")).as("alpha"), r6n(col("beta")).as("beta"),
          col("step"), r6n(col("sigma")).as("sigma"))),

    // 30-series subset (NM oracle cost discipline — see
    // ForecastOracle.NmSubsetUsers); full panel in ts_arma_fc_e2e
    "ts_arma_fc" -> ((s, dir) =>
      Advanced.arimaForecast(
        IO.events(s, dir).filter(col("user_id") < ForecastOracle.NmSubsetUsers),
        p = 1, d = 0, q = 1, h = 7)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_arma_fc_e2e" -> ((s, dir) =>
      Advanced.arimaForecast(IO.events(s, dir), p = 1, d = 0, q = 1, h = 7)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_auto_arima" -> ((s, dir) =>
      Advanced.autoArima(IO.events(s, dir), h = 7, maxP = 2, maxQ = 2)
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("y_hat")).as("y_hat"))),

    // r12: hash-gated via full-panel pinned candidate fits (the _sub
    // mechanism at the production maxP = maxQ = 3 grid) — the NM search
    // stays Scala-side, KPSS d-selection + AICc + argmin replay in SQL
    "ts_auto_arima_orders" -> ((s, dir) =>
      Advanced.autoArimaOrders(IO.events(s, dir))
        .select(col("user_id"), col("p"), col("d"), col("q"))),

    // oracled grid-search twin (VERDICT r7 ask #6): 5 series, maxP=maxQ=1
    // — candidate fits pinned, the KPSS d-selection + AICc + argmin
    // replay in SQL, so the ORDER-SELECTION logic is hash-checked
    "ts_auto_arima_orders_sub" -> ((s, dir) =>
      Advanced.autoArimaOrders(IO.events(s, dir).filter(col("user_id") < 5),
        maxP = 1, maxQ = 1)
        .select(col("user_id"), col("p"), col("d"), col("q"))),

    "ts_theta_fc" -> ((s, dir) =>
      ForecastBaselines.multiForecast(IO.events(s, dir), 7, Seq(
        "theta" -> (ys => graft.kernels.Arima.thetaForecast(ys, 7))))
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_auto_ets_fc" -> ((s, dir) =>
      ForecastBaselines.multiForecast(
        IO.events(s, dir).filter(col("user_id") < ForecastOracle.NmSubsetUsers), 7, Seq(
        "auto_ets" -> (ys => graft.kernels.Arima.autoEtsForecast(ys, 7, m = 24))))
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_auto_ets_fc_e2e" -> ((s, dir) =>
      ForecastBaselines.multiForecast(IO.events(s, dir), 7, Seq(
        "auto_ets" -> (ys => graft.kernels.Arima.autoEtsForecast(ys, 7, m = 24))))
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_damped_fc" -> ((s, dir) =>
      ForecastBaselines.multiForecast(IO.events(s, dir), 7, Seq(
        "damped" -> (ys => graft.kernels.Arima.dampedHoltForecast(ys, 7))))
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_scum_fc" -> ((s, dir) =>
      ForecastBaselines.multiForecast(IO.events(s, dir), 5, Seq(
        "scum" -> (ys => graft.kernels.Arima.scumForecast(ys, 5, m = 24))))
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))),

    "ts_regime" -> ((s, dir) =>
      Advanced.regimeDetect(IO.events(s, dir), k = 2)
        .select(col("user_id"), col("ts"), col("regime"),
          r6n(col("regime_prob")).as("regime_prob"))),

    "ts_kalman" -> ((s, dir) => {
      val u = udf((ys: Seq[Double]) => {
        val (f, sm) = graft.kernels.Kalman.filterSmooth(ys.toArray)
        f.zip(sm).map { case (a, b) => (a, b) }
      })
      graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), col("ts").as("__ts"), u(col("ys")).as("__r"))
        .select(col("user_id"), posexplode(col("__r")).as(Seq("__i", "__s")), col("__ts"))
        .select(col("user_id"), expr("__ts[__i]").as("ts"),
          r6n(col("__s._1")).as("filtered"), r6n(col("__s._2")).as("smoothed"))
    }),

    // ── multivariate / hierarchical ─────────────────────────────────────
    "ts_var_fc" -> ((s, dir) => {
      val wide = IO.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("ts"))
        .pivot("event_type").agg(avg("value"))
        .na.fill(0.0)
      val cols = wide.columns.filter(_ != "ts").sorted.take(3).toSeq
      // static var_k aliases: the oracle SQL can't name data-dependent
      // pivot columns, and the driver compare keys on column names
      VarModels.forecast(wide, cols, p = 2, h = 5)(PanelCols(time = "ts"))
        .select(col("step") +:
          cols.zipWithIndex.map { case (c, i) =>
            r6n(col(c)).as(s"var_${i + 1}") }: _*)
    }),

    "ts_granger" -> ((s, dir) => {
      val wide = IO.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("ts"))
        .pivot("event_type").agg(avg("value"))
        .na.fill(0.0)
      val cols = wide.columns.filter(_ != "ts").sorted.take(2)
      val (f, p) = VarModels.granger(wide, cols(0), cols(1), p = 2)(PanelCols(time = "ts"))
      import s.implicits._
      Seq((f, p)).toDF("f_stat", "p_value")
        .select(r6n(col("f_stat")).as("f_stat"), r6n(col("p_value")).as("p_value"))
    }),

    "ts_reconcile_bu" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val fc = ForecastBaselines.naive(ev, 7)
        .select(col("user_id").cast("string").as("unique_id"), col("ts"), col("y_hat"))
      Reconciliation.bottomUp(fc, userEdges(s, dir))(PanelCols(id = "unique_id", time = "ts"))
        .select(col("unique_id"), col("ts"), r6(col("y_hat")).as("y_hat"))
    }),

    "ts_reconcile_mint" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val edges = userEdges(s, dir)
      val base = ForecastBaselines.naive(ev, 7)(PC)
        .select(col("user_id").cast("string").as("unique_id"), col("ts"), col("y_hat"))
      val hpc: PanelCols = PanelCols(id = "unique_id", time = "ts")
      val all = Reconciliation.bottomUp(base, edges)(hpc)
      Reconciliation.minTraceOls(all, edges)(hpc)
        .select(col("unique_id"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    // ── pipeline / backtest / streaming ─────────────────────────────────
    "ts_ridge_fc" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val model = Pipeline.fitGlobalRidge(ev, lags = 3)
      Pipeline.recursiveForecast(ev, model, h = 5)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    "ts_pipeline_fc" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val model = Pipeline.fitPipeline(ev, lags = Seq(1, 2, 3),
        rollingWindows = Seq(12), calendar = Seq("hour", "day_of_week"),
        fourier = Seq((24.0, 2)), encodeId = true)
      Pipeline.pipelineForecast(ev, model, h = 5)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    "ts_pipeline_boxcox_fc" -> ((s, dir) => {
      val ev = IO.events(s, dir).withColumn("value", abs(col("value")) + 1.0)
      val model = Pipeline.fitPipeline(ev, lags = Seq(1, 2),
        targetTransform = Some("boxcox"), lam = 0.5, encodeId = true)
      Pipeline.pipelineForecast(ev, model, h = 5)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    "ts_backtest_naive" -> ((s, dir) =>
      Pipeline.backtest(IO.events(s, dir),
        (train, h) => ForecastBaselines.naive(train, h), folds = 2, horizon = 12)
        .select(col("fold"), r6(col("mae")).as("mae"), r6(col("rmse")).as("rmse"),
          col("n"))),

    // ── bayesian tier ───────────────────────────────────────────────────
    "ts_ukf" -> ((s, dir) =>
      BayesianOps.ukf(IO.events(s, dir))
        .select(col("user_id"), col("ts"),
          r6n(col("filtered")).as("filtered"),
          r6n(col("filtered_var")).as("filtered_var"))),

    // oracled on a 20-series subset (the full-panel replay measured 47 s
    // in DuckDB and the 30-series one 11.5 s — the per-query 10 s
    // budget); production scale stays exercised by the _e2e twin
    "ts_enkf" -> ((s, dir) =>
      BayesianOps.enkf(
        IO.events(s, dir).filter(col("user_id") < 20), nEnsemble = 30)
        .select(col("user_id"), col("ts"), r6(col("filtered")).as("filtered"))),

    "ts_enkf_e2e" -> ((s, dir) =>
      BayesianOps.enkf(IO.events(s, dir), nEnsemble = 30)
        .select(col("user_id"), col("ts"), r6(col("filtered")).as("filtered"))),

    // oracled on a 6-series subset (the 200-particle replay is the
    // gate's most arithmetic-heavy fold; ~1.3 s/series in DuckDB);
    // production scale in the _e2e
    "ts_particle" -> ((s, dir) =>
      BayesianOps.particleFilter(
        IO.events(s, dir).filter(col("user_id") < 6), nParticles = 200,
        sigmaLevel = 0.5, sigmaObs = 1.0)
        .select(col("user_id"), col("ts"), r6(col("filtered")).as("filtered"),
          r6(col("ess")).as("ess"))),

    "ts_particle_e2e" -> ((s, dir) =>
      BayesianOps.particleFilter(IO.events(s, dir), nParticles = 200,
        sigmaLevel = 0.5, sigmaObs = 1.0)
        .select(col("user_id"), col("ts"), r6(col("filtered")).as("filtered"),
          r6(col("ess")).as("ess"))),

    // local-linear 2-state variants: the full Kalman filter (+ RTS
    // smoother for decomp) replays in SQL — the ts_causal_impact_ll
    // pattern (VERDICT r6 ask #2). The seasonal-24 production default
    // (25-dim state, not SQL-replayable) stays driver-exercised in
    // ts_bsts_seasonal below.
    "ts_bsts_decomp" -> ((s, dir) =>
      BayesianOps.bstsDecompose(IO.events(s, dir))
        .select(col("user_id"), col("ts"), r6n(col("level")).as("level"),
          r6n(col("trend")).as("trend"), r6n(col("seasonal")).as("seasonal"))),

    "ts_bsts_fc" -> ((s, dir) =>
      BayesianOps.bstsForecast(IO.events(s, dir), h = 7)
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("y_hat")).as("y_hat"), r6n(col("y_hat_var")).as("y_hat_var"))),

    "ts_bsts_seasonal" -> ((s, dir) =>
      BayesianOps.bstsDecompose(IO.events(s, dir), seasonal = Some(24))
        .select(col("user_id"), col("ts"), r6n(col("level")).as("level"),
          r6n(col("trend")).as("trend"), r6n(col("seasonal")).as("seasonal"))),

    // period-4 seasonal-STATE twins (VERDICT r7 ask #5): the 5-dim
    // filter + forward propagation replay fully in SQL (generated
    // symbolic expansion — SeasonalKalmanOracle); the period-24
    // production defaults above/below stay rows-only (25-dim state), and
    // the smoother-based seasonal decomposition is a documented descope
    // (LAPACK pinv gain is not SQL-replayable).
    "ts_bsts_s4_fc" -> ((s, dir) =>
      BayesianOps.bstsForecast(IO.events(s, dir), h = 8, seasonal = Some(4))
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("y_hat")).as("y_hat"), r6n(col("y_hat_var")).as("y_hat_var"))),

    "ts_causal_impact_s4" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val cut = ev.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.8) as c")
        .head().getDouble(0).toLong
      Causal.causalImpact(ev, new java.sql.Timestamp(cut / 1000L), seasonal = Some(4))
        .select(col("user_id"), col("ts"), r6n(col("observed")).as("observed"),
          r6n(col("counterfactual")).as("counterfactual"),
          r6n(col("point_effect")).as("point_effect"),
          r6n(col("cum_effect")).as("cum_effect"))
    }),

    // oracled on the 30-series NM subset (chain init pinned, full MH
    // chain + posterior-predictive paths replayed in SQL); full panel in
    // the _e2e twin
    "ts_mcmc_fc" -> ((s, dir) =>
      BayesianOps.mcmcForecast(
        IO.events(s, dir).filter(col("user_id") < ForecastOracle.NmSubsetUsers),
        h = 5, p = 2, nSamples = 200, burnIn = 100)
        .select(col("user_id"), col("step"), col("ts"),
          r6(col("y_hat")).as("y_hat"),
          r6(col("y_hat_lower")).as("y_hat_lower"),
          r6(col("y_hat_upper")).as("y_hat_upper"))),

    "ts_mcmc_fc_e2e" -> ((s, dir) =>
      BayesianOps.mcmcForecast(IO.events(s, dir), h = 5, p = 2,
        nSamples = 200, burnIn = 100)
        .select(col("user_id"), col("step"), col("ts"),
          r6(col("y_hat")).as("y_hat"),
          r6(col("y_hat_lower")).as("y_hat_lower"),
          r6(col("y_hat_upper")).as("y_hat_upper"))),

    // fixed hyperparameters + composed kernel (Matérn 3/2 + periodic):
    // the posterior mean/variance are deterministic linear algebra the
    // oracle replays by Gauss-Jordan; the NM-optimized RBF path stays
    // exercised (rows-only) in ts_gp_fc_e2e
    "ts_gp_fc" -> ((s, dir) =>
      BayesianOps.gpForecast(IO.events(s, dir), h = 5, optimize = false,
        kernel = Some(graft.kernels.Bayesian.GpKernel.Sum(
          graft.kernels.Bayesian.GpKernel.Matern32(1.0, 12.0),
          graft.kernels.Bayesian.GpKernel.Periodic(0.5, 1.0, 24.0))))
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("y_hat")).as("y_hat"),
          r6n(col("y_hat_lower")).as("y_hat_lower"),
          r6n(col("y_hat_upper")).as("y_hat_upper"))),

    "ts_gp_fc_e2e" -> ((s, dir) =>
      BayesianOps.gpForecast(IO.events(s, dir), h = 5)
        .select(col("user_id"), col("step"), col("ts"),
          r6(col("y_hat")).as("y_hat"),
          r6(col("y_hat_lower")).as("y_hat_lower"),
          r6(col("y_hat_upper")).as("y_hat_upper"))),

    "ts_bayes_anomaly" -> ((s, dir) =>
      BayesianOps.bayesianAnomaly(IO.events(s, dir), threshold = 0.01)
        .select(col("user_id"), col("ts"), r6n(col("p_value")).as("p_value"),
          col("is_anomaly"))),

    // point forecast = deterministic MAP plug-in: pinned (α, level₀)
    // oracle replays the SES recursion (VERDICT r6 ask #2)
    "ts_bayesian_ets" -> ((s, dir) =>
      BayesianOps.bayesianEts(IO.events(s, dir), h = 5, nSamples = 100)
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("y_hat")).as("y_hat"))),

    // MH posterior-predictive intervals — chain-path dependent, rows-only;
    // interval sanity asserted in BayesianSpec
    // oracled on the 30-series NM subset since round 8: the MAP triple is
    // pinned and the full MH chain + posterior-predictive paths replay in
    // SQL (StochOracle.bayesianEtsIntervalsSql); the full-panel MAP
    // point-forecast surface stays hash-green in ts_bayesian_ets
    "ts_bayesian_ets_intervals" -> ((s, dir) =>
      BayesianOps.bayesianEts(
        IO.events(s, dir).filter(col("user_id") < ForecastOracle.NmSubsetUsers),
        h = 5, nSamples = 100)
        .select(col("user_id"), col("step"), col("ts"),
          r6(col("y_hat")).as("y_hat"),
          r6(col("y_hat_lower")).as("y_hat_lower"),
          r6(col("y_hat_upper")).as("y_hat_upper"))),

    "ts_bvar_fc" -> ((s, dir) => {
      val wide = IO.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("ts"))
        .pivot("event_type").agg(avg("value"))
        .na.fill(0.0)
      val cols = wide.columns.filter(_ != "ts").sorted.take(3).toSeq
      BayesianOps.bvarForecast(wide, cols, p = 2, h = 5)(PanelCols(time = "ts"))
        .select(col("step"), col("variable"), r6n(col("y_hat")).as("y_hat"),
          r6n(col("y_hat_lower")).as("y_hat_lower"),
          r6n(col("y_hat_upper")).as("y_hat_upper"))
    }),

    // Minnesota shrinkage variant (reference bayesian_var/priors.py):
    // AR(p)-variance-scaled diagonal precision + random-walk prior mean.
    // The data-dependent V₀⁻¹ diagonal is pinned at Verify time
    // (OraclePins.bvarMinnesota) so the oracle replays only the conjugate
    // solve, like the NM forecast oracles.
    "ts_bvar_minnesota_fc" -> ((s, dir) => {
      val wide = IO.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("ts"))
        .pivot("event_type").agg(avg("value"))
        .na.fill(0.0)
      val cols = wide.columns.filter(_ != "ts").sorted.take(3).toSeq
      BayesianOps.bvarForecast(wide, cols, p = 2, h = 5,
          prior = "minnesota")(PanelCols(time = "ts"))
        .select(col("step"), col("variable"), r6n(col("y_hat")).as("y_hat"),
          r6n(col("y_hat_lower")).as("y_hat_lower"),
          r6n(col("y_hat_upper")).as("y_hat_upper"))
    }),

    // ── imaging completions / agents ────────────────────────────────────
    "ts_spectrogram" -> ((s, dir) => {
      val u = udf((ys: Seq[Double]) => {
        val sp = graft.kernels.Imaging.spectrogram(ys.toArray, npersegIn = 32)
        val flat = sp.flatten
        (sp.length, sp(0).length, flat.sum / flat.length, flat.max)
      })
      graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), u(col("ys")).as("__r"))
        .select(col("user_id"), col("__r._1").as("n_freq"),
          col("__r._2").as("n_frames"), r6n(col("__r._3")).as("mean_mag"),
          r6n(col("__r._4")).as("max_mag"))
    }),

    "ts_scalogram" -> ((s, dir) => {
      val u = udf((ys: Seq[Double]) => {
        val sc = graft.kernels.Imaging.scalogram(ys.toArray, nScales = 8)
        val flat = sc.flatten
        (sc.length, flat.sum / flat.length, flat.max)
      })
      graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), u(col("ys")).as("__r"))
        .select(col("user_id"), col("__r._1").as("n_scales"),
          r6n(col("__r._2")).as("mean_mag"), r6n(col("__r._3")).as("max_mag"))
    }),

    "ts_path_signature" -> ((s, dir) => {
      val u = udf((ys: Seq[Double]) =>
        graft.kernels.Imaging.pathSignature(ys.toArray, depth = 2))
      val g = graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), u(col("ys")).as("__sig"))
      (0 until 6).foldLeft(g)((d, i) =>
        d.withColumn(s"sig_$i", r6n(element_at(col("__sig"), i + 1)))).drop("__sig")
    }),

    "ts_scientist" -> ((s, dir) => {
      val (fc, rep) = Agents.scientist(IO.events(s, dir), horizon = 7)
      fc.select(col("user_id"), col("step"), col("ts"),
        r6n(col("y_hat")).as("y_hat"))
        .withColumn("best_model", lit(rep.bestModel))
    }),

    // ── clustering / classification completions ─────────────────────────
    "ts_hdbscan" -> ((s, dir) =>
      Clustering.hdbscanCluster(IO.events(s, dir), minClusterSize = 5,
        metric = "sbd")),

    "ts_clarans" -> ((s, dir) =>
      Clustering.claransCluster(IO.events(s, dir), k = 3, metric = "sbd")),

    "ts_shapelet" -> ((s, dir) =>
      Clustering.shapeletCluster(IO.events(s, dir), k = 3)),

    "ts_kshape_classify" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val labels = ev.select(col("user_id")).distinct()
        .withColumn("label", pmod(col("user_id"), lit(3)).cast("string"))
      Classification.kshapeClassify(ev, labels, ev.filter(col("user_id") < 30))
    }),

    "ts_rocket_classify" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val labels = ev.select(col("user_id")).distinct()
        .withColumn("label", pmod(col("user_id"), lit(3)).cast("string"))
      Classification.rocketClassify(ev, labels, ev.filter(col("user_id") < 30),
        nKernels = 20)
    }),

    // ── neural tier (deterministic NeuralNet kernel; full forward-pass
    //    oracles via NeuralOracle) ────────────────────────────────────────
    "ts_dec" -> ((s, dir) =>
      DeepClustering.decCluster(IO.events(s, dir), k = 3, OraclePins.DecCfg)),

    "ts_idec" -> ((s, dir) =>
      DeepClustering.idecCluster(IO.events(s, dir), k = 3, OraclePins.DecCfg)),

    "ts_contrastive" -> ((s, dir) =>
      DeepClustering.contrastiveCluster(IO.events(s, dir), k = 3,
        OraclePins.ContrastiveCfgPin)),

    "ts_resnet_classify" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val labels = ev.select(col("user_id")).distinct()
        .withColumn("label", pmod(col("user_id"), lit(3)).cast("string"))
      Classification.resnetClassify(ev, labels, ev, OraclePins.ResnetCfg)
    }),

    "ts_inception_classify" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val labels = ev.select(col("user_id")).distinct()
        .withColumn("label", pmod(col("user_id"), lit(3)).cast("string"))
      Classification.inceptionClassify(ev, labels, ev, OraclePins.InceptionCfg)
    }),

    "ts_vision_embed" -> ((s, dir) =>
      VisionEmbed.visionEmbeddings(IO.events(s, dir))),

    // production twins at fuller configs — r12: hash-gated like their
    // pinned siblings (the forward-pass replay scales fine at these
    // capacities; configs shared via OraclePins so query fit and pin
    // fit cannot drift)
    "ts_dec_e2e" -> ((s, dir) =>
      DeepClustering.decCluster(IO.events(s, dir), k = 3,
        OraclePins.DecE2eCfg)),

    "ts_patchtst_e2e" -> ((s, dir) =>
      DeepForecast.patchTstForecast(IO.events(s, dir),
        OraclePins.PatchTstE2eCfg)),

    // N-BEATS global deep forecaster (dl/nbeats.py): interpretable
    // (trend + seasonality basis) and generic variants
    "ts_nbeats_fc" -> ((s, dir) =>
      DeepForecast.nbeatsForecast(IO.events(s, dir), OraclePins.NbeatsInterpCfg)),

    "ts_nbeats_generic_fc" -> ((s, dir) =>
      DeepForecast.nbeatsForecast(IO.events(s, dir), OraclePins.NbeatsGenericCfg)),

    // PatchTST patch-transformer global forecaster (dl/patchtst.py)
    "ts_patchtst_fc" -> ((s, dir) =>
      DeepForecast.patchTstForecast(IO.events(s, dir), OraclePins.PatchTstCfg)),

    // Time-LLM / LLM-PS forecasters (adapters/llm_forecast.py): the
    // reference's "LLM adapters" train every parameter locally — no
    // pretrained weights — so both are real engine ops, trained here
    // with the neural tier's deterministic counter-based machinery
    "ts_timellm_fc" -> ((s, dir) =>
      DeepForecast.timeLlmForecast(IO.events(s, dir), OraclePins.TimeLlmCfg)),

    "ts_llmps_fc" -> ((s, dir) =>
      DeepForecast.llmPsForecast(IO.events(s, dir), OraclePins.LlmPsCfg)),

    // Chronos foundation-adapter tier (adapters/foundation_forecast.py):
    // the REAL Chronos series→token preprocessing (mean-|y| scaling +
    // uniform binning, paper defaults) over the full panel — the stage a
    // 100 TB corpus runs to become foundation-model training data —
    // plus the sample-path forecaster on the NM-subset discipline
    // (context-fitted token LM standing in for the pretrained backbone,
    // documented in ops.Foundation's honesty boundary)
    "ts_chronos_tokens" -> ((s, dir) =>
      Foundation.chronosTokenize(IO.events(s, dir))),

    "ts_chronos_fc" -> ((s, dir) => Foundation.chronosForecast(
      IO.events(s, dir).filter(col("user_id") < ForecastOracle.NmSubsetUsers),
      Foundation.ChronosForecastCfg(h = 6))),

    // foundation-embedding adapters (adapters/embeddings.py): the real
    // Chronos tokenizer / RevIN+patchify preprocessing with the
    // pretrained trunk replaced by a deterministic DetRng projection
    // table (documented local surrogate) — one row per series, wide
    // emb_* columns, fully replayed draw-for-draw in DuckDB
    "ts_chronos_embed" -> ((s, dir) =>
      Foundation.chronosEmbed(IO.events(s, dir))),

    "ts_moment_embed" -> ((s, dir) =>
      Foundation.momentEmbed(IO.events(s, dir))),

    // multivariate transformers over the hourly event_type pivot
    // (dl/multivariate.py): channel-mixing PatchTST + iTransformer
    "ts_mvpatchtst_fc" -> ((s, dir) =>
      DeepForecast.mvPatchTstForecast(
        IO.events(s, dir).filter(col("event_type").isin(OraclePins.MvTypes: _*)),
        OraclePins.MvCfgPin)),

    "ts_itransformer_fc" -> ((s, dir) =>
      DeepForecast.iTransformerForecast(
        IO.events(s, dir).filter(col("event_type").isin(OraclePins.MvTypes: _*)),
        OraclePins.MvCfgPin)),

    // RL forecast environment (adapters/rl_env.py): real reset/step
    // episode per series, forecast-following policy, naive forecasts —
    // the oracle replays the closed-form reward stream
    "ts_rl_rollout" -> ((s, dir) =>
      Adapters.rolloutNaive(IO.events(s, dir))),

    // ── causal tier ─────────────────────────────────────────────────────
    "ts_causal_impact" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      // intervention at the 80% timestamp of the panel
      val cut = ev.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.8) as c")
        .head().getDouble(0).toLong
      Causal.causalImpact(ev, new java.sql.Timestamp(cut / 1000L), seasonal = Some(24))
        .select(col("user_id"), col("ts"), r6n(col("observed")).as("observed"),
          r6n(col("counterfactual")).as("counterfactual"),
          r6n(col("point_effect")).as("point_effect"),
          r6n(col("cum_effect")).as("cum_effect"))
    }),

    // oracled local_linear variant: the seasonal-24 default above carries
    // a 25-dim Kalman state no SQL replay can afford; this 2-state twin
    // pins the causal machinery (pre/post split, counterfactual
    // propagation, pointwise + cumulative effects) — DetOracles replays
    // the filter fold exactly
    "ts_causal_impact_ll" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val cut = ev.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.8) as c")
        .head().getDouble(0).toLong
      Causal.causalImpact(ev, new java.sql.Timestamp(cut / 1000L))
        .select(col("user_id"), col("ts"), r6n(col("observed")).as("observed"),
          r6n(col("counterfactual")).as("counterfactual"),
          r6n(col("point_effect")).as("point_effect"),
          r6n(col("cum_effect")).as("cum_effect"))
    }),

    "ts_synthetic_control" -> ((s, dir) => {
      val daily = IO.events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("ts"))
        .agg(avg("value").as("value"))
        .filter(col("user_id") < 20)
      // SC needs a common time grid: keep days observed by every unit
      val nUnits = daily.select(col("user_id")).distinct().count()
      val full = daily.groupBy(col("ts")).agg(countDistinct(col("user_id")).as("__n"))
        .filter(col("__n") === nUnits).select("ts")
      val ev = daily.join(broadcast(full), Seq("ts"))
      val cut = ev.selectExpr("percentile(unix_micros(cast(ts as timestamp)), 0.8) as c")
        .head().getDouble(0).toLong
      val (frame, _) = Causal.syntheticControl(ev, "0",
        new java.sql.Timestamp(cut / 1000L))(PC.copy(tieBreak = Nil))
      frame.select(col("ts"), r6n(col("observed")).as("observed"),
        r6n(col("counterfactual")).as("counterfactual"),
        r6n(col("effect")).as("effect"), col("period"))
    }),

    // ── round-2 small completions ───────────────────────────────────────
    "ts_cv_rolling" -> ((s, dir) =>
      Validation.rollingOriginCv(IO.events(s, dir), nSplits = 3, horizon = 24,
        step = 24)
        .groupBy(col("fold"), col("split")).agg(count(lit(1)).as("n_rows"))),

    "ts_reconcile_mo" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val edges = userEdges(s, dir)
      val hpc: PanelCols = PanelCols(id = "unique_id", time = "ts")
      val base = ForecastBaselines.naive(ev, 7)(PC)
        .select(col("user_id").cast("string").as("unique_id"), col("ts"), col("y_hat"))
      val all = Reconciliation.bottomUp(base, edges)(hpc)
      Reconciliation.middleOut(all, edges, Seq("g0", "g1", "g2"))(hpc)
        .select(col("unique_id"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    // covariance reconciliation on a 30-bottom subset: the oracle must
    // replay two matrix inversions (W 34×34, SᵀW⁻¹S 30×30) as DuckDB
    // Gauss-Jordan folds, so the oracled query pins a tractable hierarchy;
    // the full-panel path is exercised by the `_e2e` variants below (same
    // subset discipline as ts_kmedoids / ts_dbscan)
    "ts_reconcile_permbu" -> ((s, dir) =>
      reconcilePermbu(s, dir, maxUsers = Some(ReconcileOracle.CovSubsetUsers))),

    "ts_reconcile_permbu_e2e" -> ((s, dir) =>
      reconcilePermbu(s, dir, maxUsers = None)),

    "ts_reconcile_mintcv" -> ((s, dir) =>
      reconcileMintCv(s, dir, maxUsers = Some(ReconcileOracle.CovSubsetUsers))),

    "ts_reconcile_mintcv_e2e" -> ((s, dir) =>
      reconcileMintCv(s, dir, maxUsers = None)),

    "ts_pit_hist" -> ((s, dir) =>
      Evaluation.pitHistogram(persistenceQuantiles(s, dir), "value",
        Seq("q_10", "q_50", "q_90"), nBins = 10)
        .select(r6(col("bin_lower")).as("bin_lower"), r6(col("bin_upper")).as("bin_upper"),
          col("count"), r6(col("density")).as("density"))),

    "ts_reliability" -> ((s, dir) =>
      Evaluation.reliabilityDiagram(persistenceQuantiles(s, dir), "value",
        Map("q_10" -> 0.1, "q_50" -> 0.5, "q_90" -> 0.9))
        .select(col("expected"), r6(col("observed")).as("observed"))),

    // deterministic mod-3 labels: the op under test is the METRIC, so a
    // SQL-expressible labeling makes it oracle-checkable (the clusterers
    // themselves are exercised by their own label queries)
    "ts_silhouette_samples" -> ((s, dir) => {
      val ev = IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
      Clustering.silhouetteSamples(ev, mod3Labels(ev), metric = "sbd")
        .select(col("user_id"), col("cluster"), r6n(col("silhouette")).as("silhouette"))
    }),

    "ts_calinski" -> ((s, dir) => {
      val ev = IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
      Clustering.calinskiHarabasz(ev, mod3Labels(ev), metric = "sbd")
        .select(r6n(col("calinski_harabasz")).as("calinski_harabasz"))
    }),

    // supply-chain pack: naive forecast → promo lift → inventory policy
    "ts_inventory_plan" -> ((s, dir) => {
      val ev = IO.events(s, dir)
        .withColumn("promo", pmod(col("event_id"), lit(11)) === 0)
      val fc = ForecastBaselines.naive(ev, h = 7)
        .withColumn("sched", (col("step") <= 2).cast("double"))
      val lifted = DomainAgents.promotionAdjust(
        ev.withColumn("promo", col("promo").cast("int")), "promo", fc, "sched")
      val onHand = ev.groupBy(col("user_id"))
        .agg((avg(col("value")) * 2).as("on_hand"))
      DomainAgents.inventoryReorder(lifted, onHand, leadTime = 3)
        .select(col("user_id"), r6n(col("order_up_to")).as("order_up_to"),
          r6n(col("safety_stock")).as("safety_stock"),
          r6n(col("order_qty")).as("order_qty"), col("stockout_risk"))
    }),

    // healthcare triage pack over synthesized vitals
    "ts_health_triage" -> ((s, dir) => {
      val ev = IO.events(s, dir)
        .withColumn("hr", lit(60.0) + pmod(col("value") * 7, lit(80)))
        .withColumn("sbp", lit(85.0) + pmod(col("value") * 11, lit(70)))
        .withColumn("rr", lit(8.0) + pmod(col("value") * 3, lit(20)))
        .withColumn("temp", lit(35.0) + pmod(col("value"), lit(5)))
        .withColumn("spo2", lit(90.0) + pmod(col("value") * 5, lit(10)))
      DomainAgents.healthTriage(ev)
        .select(col("user_id"), col("event_id"),
          col("sepsis_score"), col("sepsis_flag"),
          col("n_deranged"), col("news_score"), col("tier"))
    }),

    // IIoT condition-monitoring pack: health index + RUL over a degrading
    // synthetic amplitude
    "ts_condition_rul" -> ((s, dir) => {
      val ev = IO.events(s, dir)
        .withColumn("value",
          abs(col("value")) * (lit(1.0) +
            (row_number().over(PC.w).cast("double") / 40.0)))
      DomainAgents.conditionMonitor(ev, window = 8, warmup = 5)
        .select(col("user_id"), col("event_id"), r6n(col("rms")).as("rms"),
          r6n(col("health")).as("health"), r6n(col("rul")).as("rul"))
    }),

    // MARL portfolio pack: risk/return/allocation over event_type "assets"
    "ts_portfolio_weights" -> ((s, dir) => {
      val rets = IO.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("ts"), col("event_type").as("asset"))
        .agg(avg("value").as("ret"))
      DomainAgents.portfolioWeights(rets, window = 5)(PanelCols(time = "ts"))
        .select(col("ts"), col("asset"), r6n(col("risk")).as("risk"),
          r6n(col("expected_return")).as("expected_return"),
          r6n(col("weight")).as("weight"))
    }),

    "ts_consensus_anomaly" -> ((s, dir) =>
      Outliers.consensusAnomaly(IO.events(s, dir), windowSize = 20)
        .select(col("user_id"), col("event_id"),
          r6n(col("z_score")).as("z_score"), r6n(col("std_score")).as("std_score"),
          r6n(col("mad_score")).as("mad_score"), col("decision"))),

    // hash-gated on exactly-replayable path lengths at a pinned 20×128
    // forest (see OraclePins.iforest); flag counts at the default 100×256
    // forest stay rows-only below (approx_percentile threshold + pow are
    // not engine-replayable)
    "ts_iforest" -> ((s, dir) => {
      val ev = Features.lagFeatures(IO.events(s, dir), Seq(1, 2))
      Outliers.isolationForestDetect(ev,
        Seq("value", "value_lag_1", "value_lag_2"), contamination = 0.05,
        nTrees = OraclePins.IforestTrees, psi = OraclePins.IforestPsi)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          r6n(sum(col("mean_path_len"))).as("path_sum"))
    }),

    // r12: hash-gated like ts_iforest — exactly-replayable path sums at
    // the PRODUCTION default 100×256 forest (full pinned node table;
    // flag counts stay spec-covered: approx_percentile + pow are not
    // engine-replayable)
    "ts_iforest_e2e" -> ((s, dir) => {
      val ev = Features.lagFeatures(IO.events(s, dir), Seq(1, 2))
      Outliers.isolationForestDetect(ev,
        Seq("value", "value_lag_1", "value_lag_2"), contamination = 0.05)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          r6n(sum(col("mean_path_len"))).as("path_sum"))
    }),

    "ts_quantile_fc" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val model = Probabilistic.fitQuantileRidge(ev, lags = 3,
        quantiles = Seq(0.1, 0.5, 0.9))
      Probabilistic.quantileForecast(ev, model, h = 5)
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("q_0_1")).as("q_10"), r6n(col("q_0_5")).as("q_50"),
          r6n(col("q_0_9")).as("q_90"))
    }),

    "ts_stacking" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val bases: Seq[(DataFrame, Int) => DataFrame] = Seq(
        (t, h) => ForecastBaselines.naive(t, h),
        (t, h) => ForecastBaselines.movingAverage(t, h, 12),
        (t, h) => ForecastBaselines.ses(t, h))
      val oof = bases.map(b => Pipeline.oofForecast(ev, b, folds = 2, horizon = 12))
      val coef = Probabilistic.stackingFit(oof, ev)
      val future = Seq(ForecastBaselines.naive(ev, 7),
        ForecastBaselines.movingAverage(ev, 7, 12),
        ForecastBaselines.ses(ev, 7))
      Probabilistic.stackingCombine(future, coef)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    "ts_streaming_ridge" -> ((s, dir) => {
      val coef = graft.streaming.StreamingOps.globalRidgeBatch(s,
        IO.events(s, dir), "user_id", "ts", "value", Seq(1, 2, 3))
      import s.implicits._
      coef.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("coef_idx", "coef")
        .select(col("coef_idx"), r6n(col("coef")).as("coef"))
    }),

    "ts_streaming_ets" -> ((s, dir) =>
      graft.streaming.StreamingOps.etsBatch(s, IO.events(s, dir),
        "user_id", "ts", "value", tieCol = Some("event_id"))
        .select(col("uniqueId").as("unique_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("y"),
          r6n(col("level")).as("level"), r6n(col("trend")).as("trend"),
          r6n(col("forecastNext")).as("forecast_next"))),

    "ts_interaction_features" -> ((s, dir) => {
      val ev = Features.lagFeatures(IO.events(s, dir), Seq(1, 2))
      Features.interactionFeatures(
        Features.interactionFeatures(ev,
          Seq(("value", "value_lag_1")), method = "multiply"),
        Seq(("value_lag_1", "value_lag_2")), method = "add")
        .select(col("user_id"), col("event_id"),
          r6n(col("value_x_value_lag_1")).as("v_x_lag1"),
          r6n(col("value_lag_1_plus_value_lag_2")).as("lag1_plus_lag2"))
    }),

    "ts_streaming_kalman" -> ((s, dir) =>
      graft.streaming.StreamingOps.kalmanBatch(s, IO.events(s, dir),
        "user_id", "ts", "value", tieCol = Some("event_id"))
        .select(col("uniqueId").as("unique_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("y"),
          r6n(col("filtered")).as("filtered"),
          r6n(col("variance")).as("variance"))),

    // streaming EnKF / particle-filter twins (r12: hash-gated — were
    // spec-only): the batch fold IS the streamed math (shared init +
    // stepDet, StreamingEnkfSpec/StreamingPfSpec pin stream ≡ batch);
    // subsets sized to the per-series DuckDB replay cost
    "ts_streaming_enkf" -> ((s, dir) =>
      graft.streaming.StreamingOps.enkfBatch(s,
        IO.events(s, dir).filter(col("user_id") < 5),
        "user_id", "ts", "value", tieCol = Some("event_id"))
        .select(col("uniqueId").cast("bigint").as("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          r6(col("filtered")).as("filtered"))),

    "ts_streaming_pf" -> ((s, dir) =>
      graft.streaming.StreamingOps.pfBatch(s,
        IO.events(s, dir).filter(col("user_id") < 3),
        "user_id", "ts", "value", nParticles = 200, sigmaLevel = 0.5,
        sigmaObs = 1.0, tieCol = Some("event_id"))
        .select(col("uniqueId").cast("bigint").as("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          r6(col("filtered")).as("filtered"), r6(col("ess")).as("ess"))),

    // model registry round-trip (r12: hash-gated — was spec-only): log
    // one run per event_type with its panel metric, read everything back
    // through the registry, flag the best run — the (log → list → read →
    // best) surface exercised end-to-end with a data-derived oracle
    "ts_registry" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_registry")
        .toString
      val reg = new Registry(tmp)
      val runs = IO.events(s, dir).groupBy("event_type")
        .agg(avg("value").as("m"), count(lit(1)).as("n"))
        .collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
      runs.foreach { case (t, m, n) =>
        reg.logRun("events_models", t,
          Map("event_type" -> t, "n_rows" -> n), Map("avg_value" -> m))
      }
      val best = reg.bestRun("events_models", "avg_value")
        .getOrElse(sys.error("ts_registry: no best run"))._1
      import s.implicits._
      reg.listRuns("events_models").map { run =>
        val m = reg.readMetrics("events_models", run)("avg_value")
        (run, m, run == best)
      }.toDF("run", "__m", "is_best")
        .select(col("run"), r6n(col("__m")).as("avg_value"), col("is_best"))
    }),

    "ts_streaming_window" -> ((s, dir) =>
      graft.streaming.StreamingOps.windowBatch(s, IO.events(s, dir),
        "user_id", "ts", "value", windowSize = 24, tieCol = Some("event_id"))
        .select(col("uniqueId").as("unique_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("windowLen").as("window_len"),
          // left-fold sum matches the oracle's sequential list_reduce
          r6n(aggregate(col("window"), lit(0.0), (a, v) => a + v))
            .as("window_sum"))),

    // ── near-dup detection over synthetic near-duplicates ───────────────
    "doc_minhash_lsh" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" near duplicate suffix")))
      Dedup.minhashLsh(docs.unionByName(dups), threshold = 0.5)
    }),

    // incremental ingest-batch dedup tier: a NEW slice arrives and is
    // deduped against the originals' persisted state (fingerprints /
    // simhashes / minhash signatures) — outputs must equal the full
    // run's result restricted to the new slice (oracles filter the full
    // SQL, so the equivalence is hash-checked, not just spec'd)
    "doc_dedup_exact_incremental" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val fresh = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh"))))
      Dedup.exactIncremental(fresh, Dedup.exactFingerprints(docs))
        .select("doc_id", "is_duplicate")
    }),

    "doc_simhash_incremental" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val fresh = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" tail")))
      Dedup.simhashIncremental(fresh,
        Dedup.simhash(docs).select("doc_id", "simhash"), maxHamming = 7)
    }),

    // incremental group maintenance on top of the incremental pairs: old
    // endpoints contract to their stored group label, propagation runs on
    // the batch-touched subgraph only; output = new docs' group ids
    // (hash = full-run recursive closure restricted to the new slice)
    "doc_dedup_groups_incremental" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" near duplicate suffix")))
      val oldProp = Dedup.duplicateGroups(Dedup.minhashLsh(docs, threshold = 0.5))
      val oldGroups = docs.select(col("doc_id"))
        .join(oldProp, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
      val newPairs = Dedup.minhashLshIncremental(dups,
        Dedup.minhashSignatures(docs), threshold = 0.5)
      Dedup.duplicateGroupsIncremental(newPairs, oldGroups)._1
    }),

    "doc_minhash_incremental" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" near duplicate suffix")))
      Dedup.minhashLshIncremental(dups, Dedup.minhashSignatures(docs),
        threshold = 0.5)
    }),

    "doc_repetition" -> ((s, dir) =>
      TextOps.repetitionMetrics(IO.documents(s, dir))
        .select(col("doc_id"),
          r6n(col("dup_line_frac")).as("dup_line_frac"),
          r6n(col("dup_line_char_frac")).as("dup_line_char_frac"),
          r6n(col("top2gram_char_frac")).as("top2gram_char_frac"),
          r6n(col("top3gram_char_frac")).as("top3gram_char_frac"))),

    // benchmark decontamination: bench set = every 20th doc; any training
    // doc sharing a 5-gram with it is flagged (bench grams broadcast, the
    // corpus side never shuffles text)
    "doc_decontaminate" -> ((s, dir) => {
      val docs = IO.documents(s, dir)
      Decontam.ngramOverlap(docs, docs.filter(col("doc_id") % 20 === 0), n = 5)
    }),

    // same gate through the Bloom pre-filter (the 100 TB membership
    // shape); bloom has no false negatives + exact verify → output must
    // be bit-identical, so it shares doc_decontaminate's oracle
    "doc_decontam_bloom" -> ((s, dir) => {
      val docs = IO.documents(s, dir)
      Decontam.ngramOverlapBloom(docs, docs.filter(col("doc_id") % 20 === 0),
        n = 5)
    }),

    // PII scrub: the corpus is synthetic word-soup, so deterministically
    // plant PII-shaped strings on every 3rd doc (the oracle plants the
    // identical strings) and assert detection + redaction parity
    "doc_pii" -> ((s, dir) =>
      TextOps.piiMetrics(withSynthPii(IO.documents(s, dir)))
        .select("doc_id", "n_emails", "n_ipv4", "n_phones", "pii_flag",
          "redacted_len")),

    // C4 line-structure filters over deterministically multi-lined text
    // (same augmentation replayed in the oracle)
    "doc_line_filters" -> ((s, dir) =>
      TextOps.lineFilters(withSynthLines(IO.documents(s, dir)))
        .select(col("doc_id"), col("n_lines"),
          r6n(col("terminal_punct_frac")).as("terminal_punct_frac"),
          r6n(col("bullet_frac")).as("bullet_frac"),
          r6n(col("ellipsis_frac")).as("ellipsis_frac"),
          r6n(col("mean_line_words")).as("mean_line_words"),
          col("has_brace"), col("has_lorem"), col("clean_len"))),

    // bounded-state sketch tier: Count-Min heavy hitters (fixed
    // depth×width counters, additive merge) and HyperLogLog per-source
    // distinct tokens (2^b max-merge registers) — the 100 TB substitutes
    // for data-sized frequency tables / count(DISTINCT) shuffles, both
    // order-independent and therefore replayed with no pins
    "doc_cms_heavy" -> ((s, dir) =>
      Sketches.cmsHeavyHitters(IO.documents(s, dir), minFrac = 0.01)),

    "doc_hll_distinct" -> ((s, dir) =>
      Sketches.hllDistinctTokens(IO.documents(s, dir))),

    // per-source corpus rollup: one shuffle, map-side partial aggregation
    "doc_corpus_stats" -> ((s, dir) =>
      IO.documents(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"),
          r6n(avg(length(col("text")))).as("avg_chars"),
          r6n(expr("percentile(length(text), 0.5)")).as("p50_chars"),
          max(length(col("text"))).cast("long").as("max_chars"))),

    // concat-and-split sequence-packing plan: 8 hash shards, 128-token
    // training sequences
    "doc_pack_plan" -> ((s, dir) =>
      Packing.packPlan(IO.documents(s, dir), seqLen = 128, nShards = 8)
        .select("doc_id", "shard", "n_tokens", "start_tok", "end_tok",
          "first_seq", "last_seq")),

    // RAG chunking manifest: 64-token windows, stride 48 (16-token overlap)
    "doc_chunk_plan" -> ((s, dir) =>
      Packing.chunkPlan(IO.documents(s, dir))
        .select("doc_id", "n_tokens", "chunk_id", "start_tok", "end_tok")),

    // corpus-trained BPE subword counts (VERDICT r6 ask #8): merges learned
    // on a bounded hash-ordered sample, broadcast, applied per row; the
    // oracle replays the identical ranked-merge fold per distinct word
    "doc_bpe_tokens" -> ((s, dir) => {
      val docs = IO.documents(s, dir)
      Bpe.tokenCounts(docs, Bpe.bpeFit(docs))
    }),

    // cross-doc substring duplication signal (fixed-width window
    // approximation of suffix-array span dedup) over corpus + planted
    // exact copies
    "doc_dup_ngram_coverage" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 100000)
      Dedup.dupNgramCoverage(docs.unionByName(dups))
        .select(col("doc_id"), col("n_windows"), col("dup_windows"),
          r6n(col("dup_frac")).as("dup_frac"), col("flagged"))
    }),

    // canonical purge mapping over a corpus with exact copies (batch twin
    // of StreamingOps.streamingDedup: first-seen ≡ min-id)
    "doc_dedup_canonical" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
      Dedup.canonical(docs.unionByName(dups))
    }),

    // flagship curation composition: PII → quality → language → repetition
    // metrics fused in ONE scan pass (pure column exprs stack on the same
    // projection), decontamination joined once on doc_id, then a
    // first-failing-gate verdict and the stable train/valid/test split.
    // This is the whole training-data curation funnel as a single plan.
    "doc_curation_pipeline" -> ((s, dir) => {
      val docs = withSynthPii(IO.documents(s, dir))
      val metrics = TextOps.curationMetrics(docs.drop("n_chars"))
      val cont = Decontam
        .ngramOverlap(docs, docs.filter(col("doc_id") % 20 === 0), n = 5)
        .select("doc_id", "contaminated")
      val joined = Sampling.stableSplit(metrics.join(cont, "doc_id"), "doc_id")
      val reason = TextOps.curationReason(Some(col("contaminated")))
      joined.select(col("doc_id"), reason.as("reason"),
        (reason === "keep").as("keep"), col("split"))
    }),

    // per-source corpus report card: verdict keep-rate + exact-dup rate +
    // quality/LM means — the one-page corpus health readout
    "doc_report_card" -> ((s, dir) => {
      val docs = IO.documents(s, dir)
      val metrics = TextOps.curationMetrics(docs.drop("n_chars"))
      val reason = TextOps.curationReason(None)
      val verdict = metrics.select(col("doc_id"), col("source"),
        reason.as("reason"), col("quality_score"))
      val dup = Dedup.exact(docs).select(col("doc_id"), col("is_duplicate"))
      val lp = TextOps.unigramLogProb(docs, vocabSize = 500)
        .select(col("doc_id"), col("avg_logp"))
      verdict.join(dup, "doc_id").join(lp, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          r6n(avg(when(col("reason") === "keep", 1.0).otherwise(0.0))).as("keep_rate"),
          r6n(avg(when(col("is_duplicate"), 1.0).otherwise(0.0))).as("dup_rate"),
          r6n(avg(col("quality_score"))).as("avg_quality"),
          r6n(avg(col("avg_logp"))).as("avg_logp"))
    }),

    // ── deterministic curation sampling (stable FNV membership) ─────────
    "doc_sample_stable" -> ((s, dir) =>
      Sampling.stableSample(IO.documents(s, dir), "doc_id", rate = 0.25)
        .select("doc_id", "source")),

    // ── SQL surface: the registered native expressions via spark.sql ────
    // (graft.plans.GraftFunctions / GraftExtensions). Same Catalyst
    // expressions the Column API attaches, resolved through the function
    // registry instead — so the gate pins that a pure-SQL user gets
    // bit-identical fingerprints and sampling draws.
    "doc_sql_surface" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      IO.documents(s, dir).createOrReplaceTempView("graft_sql_docs")
      s.sql(
        """SELECT doc_id,
          |  graft_fnv64(text) AS fp,
          |  graft_stable_uniform(concat('42:', CAST(doc_id AS STRING))) AS draw
          |FROM graft_sql_docs""".stripMargin)
    }),

    "emb_sql_cosine" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      IO.embeddings(s, dir).select("vec_id", "embedding")
        .createOrReplaceTempView("graft_sql_emb")
      s.sql(
        """SELECT a.vec_id,
          |  graft_cosine_sim(CAST(a.embedding AS ARRAY<DOUBLE>),
          |                   CAST(b.embedding AS ARRAY<DOUBLE>)) AS cos
          |FROM graft_sql_emb a JOIN graft_sql_emb b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id < 200""".stripMargin)
    }),

    "doc_sample_split" -> ((s, dir) =>
      Sampling.stableSplit(IO.documents(s, dir), "doc_id")
        .select("doc_id", "split")),

    "doc_sample_quota" -> ((s, dir) =>
      Sampling.stratifiedQuota(IO.documents(s, dir), "source", "doc_id",
        quota = 30)
        .select("doc_id", "source")),

    // temperature-weighted mixing: alpha=0.5 plan over a 300-doc budget,
    // then the stable-hash materialization of that plan
    "doc_mix_plan" -> ((s, dir) =>
      Sampling.temperatureMixPlan(IO.documents(s, dir), "source",
          budget = 300, alpha = 0.5)
        .select(col("source"), col("n_docs"), r6n(col("p")).as("p"),
          col("quota"))),

    // data-constrained-scaling mix: epoch-capped token allocation with
    // the shortfall surfaced (Muennighoff et al. 2023); budget 54000 at
    // maxEpochs 2 makes the cap BIND for the smaller sources and not the
    // larger — both branches exercised
    "doc_epoch_mix" -> ((s, dir) =>
      Sampling.epochCapMixPlan(IO.documents(s, dir), "source",
          budgetTokens = 54000, maxEpochs = 2.0, alpha = 0.5)
        .select(col("source"), col("tokens_available"), r6n(col("p")).as("p"),
          col("allocated_tokens"), r6n(col("epochs")).as("epochs"),
          r6n(col("shortfall")).as("shortfall"))),

    "doc_mix_sample" -> ((s, dir) =>
      Sampling.temperatureSample(IO.documents(s, dir), "source", "doc_id",
          budget = 300, alpha = 0.5)
        .select("doc_id", "source")),

    // canonical duplicate clusters from the same pair list (the pick-one-
    // per-group step after near-dup detection)
    "doc_dedup_groups" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" near duplicate suffix")))
      Dedup.duplicateGroups(
        Dedup.minhashLsh(docs.unionByName(dups), threshold = 0.5))
    }),

    "doc_ngram_jaccard" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" near duplicate suffix")))
      val corpus = docs.unionByName(dups)
      // deterministic candidate set (a bare limit() is scan-order-dependent)
      val pairs = docs.filter(col("doc_id") < 200).select(col("doc_id").as("id_a"),
        (col("doc_id") + 100000).as("id_b"))
      Dedup.ngramJaccard(pairs, corpus)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
    }),

    // ── batch D: breadth completion ─────────────────────────────────────
    "ts_impute_bfill" -> ((s, dir) =>
      Impute.impute(withSynthNulls(IO.events(s, dir)), "backward_fill")
        .select("user_id", "event_id", "value")),

    "ts_impute_median" -> ((s, dir) =>
      Impute.impute(withSynthNulls(IO.events(s, dir)), "median")
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_outlier_hampel" -> ((s, dir) =>
      Outliers.detect(IO.events(s, dir), "hampel", threshold = 3.0, window = 21)
        .select("user_id", "event_id", "value", "is_outlier")),

    "ts_outlier_rolling_z" -> ((s, dir) =>
      Outliers.detect(IO.events(s, dir), "rolling_zscore", threshold = 3.0, window = 21)
        .select("user_id", "event_id", "value", "is_outlier")),

    "ts_outlier_treat_median" -> ((s, dir) =>
      Outliers.treat(Outliers.detect(IO.events(s, dir), "zscore", 2.0), "median")
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_outlier_treat_interp" -> ((s, dir) =>
      Outliers.treat(Outliers.detect(IO.events(s, dir), "zscore", 2.0), "interpolate")
        .select(col("user_id"), col("event_id"), r6(col("value")).as("value"))),

    "ts_upsample_30m" -> ((s, dir) =>
      Resample.upsample(Resample.downsample(IO.events(s, dir), "hour", "mean"),
        stepUs = 1800000000L)(PC.copy(tieBreak = Nil))
        .select(col("user_id"), col("ts"), r6(col("value")).as("value"))),

    "ts_time_embeddings" -> ((s, dir) =>
      Features.timeEmbeddings(IO.events(s, dir), Seq("hour", "day_of_week"))
        .select(col("event_id"),
          r6n(col("hour_sin")).as("hour_sin"), r6n(col("hour_cos")).as("hour_cos"),
          r6n(col("day_of_week_sin")).as("dow_sin"), r6n(col("day_of_week_cos")).as("dow_cos"))),

    // mid-range holiday (01-15) so both distance features vary; 12-25
    // exercises the far-future side, and days_since < 01-01 never occurs
    "ts_holiday" -> ((s, dir) =>
      Features.holidayFeatures(IO.events(s, dir),
        Seq(java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-15"),
          java.sql.Date.valueOf("2024-12-25")), distance = true)
        .select("event_id", "is_holiday", "days_to_holiday", "days_since_holiday")),

    "ts_mase" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val fc = ev.withColumn("y_hat", lag(col("value"), 1).over(PC.w))
        .filter(col("y_hat").isNotNull)
        .select("user_id", "ts", "y_hat")
      Metrics.mase(ev, fc, "y_hat", seasonLength = 24)
        .select(col("user_id"), r6(col("mase")).as("mase"))
    }),

    "ts_reconcile_td" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val edges = flatUserEdges(s, dir)
      val hpc: PanelCols = PanelCols(id = "unique_id", time = "ts", target = "value")
      val bottoms = ForecastBaselines.naive(ev, 7)(PC)
        .select(col("user_id").cast("string").as("unique_id"), col("ts"), col("y_hat"))
      val rootFc = Reconciliation.bottomUp(bottoms, edges)(hpc)
        .filter(col("unique_id") === "total")
      val hist = ev.select(col("user_id").cast("string").as("unique_id"),
        col("ts"), col("value"))
      Reconciliation.topDown(rootFc, hist, "total", edges)(hpc)
        .select(col("unique_id"), col("ts"), r6(col("y_hat")).as("y_hat"))
    }),

    "ts_clara" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val (ids, m) = Clustering.distanceMatrix("clara", ev, "sbd")(PC)
      val (labels, _) = graft.kernels.Cluster.clara(m, k = 3, sampleSize = 40)
      import s.implicits._
      ids.zip(labels).toSeq.toDF("unique_id", "cluster")
    }),

    "ts_cv_sliding" -> ((s, dir) =>
      Validation.slidingWindowCv(IO.events(s, dir), folds = 3, horizon = 24, window = 100)
        .groupBy(col("fold"), col("split")).agg(count(lit(1)).as("n_rows"))),

    "ts_pairwise_msm" -> ((s, dir) => pairwiseOracle(s, dir, "msm")),
    "ts_pairwise_erp" -> ((s, dir) => pairwiseOracle(s, dir, "erp")),
    "ts_pairwise_twe" -> ((s, dir) => pairwiseOracle(s, dir, "twe")),
    "ts_pairwise_lcss" -> ((s, dir) => pairwiseOracle(s, dir, "lcss")),
    "ts_pairwise_edr" -> ((s, dir) => pairwiseOracle(s, dir, "edr")),
    "ts_pairwise_frechet" -> ((s, dir) => pairwiseOracle(s, dir, "frechet")),
    "ts_pairwise_wdtw" -> ((s, dir) => pairwiseOracle(s, dir, "wdtw")),
    "ts_pairwise_ddtw" -> ((s, dir) => pairwiseOracle(s, dir, "ddtw")),
    "ts_pairwise_fastdtw" -> ((s, dir) =>
      Distances.pairwise(IO.events(s, dir), "dtw",
        Map("radius" -> OraclePins.FastDtwRadius.toDouble))),
    // oracle-checked FastDTW subset (VERDICT r8 ask #3): the FULL
    // multiresolution recursion runs here; the oracle replays only the
    // final constrained DP from the pinned per-pair bands — the banded
    // sakoe/itakura machinery with data-derived [lo, hi] rows
    "ts_pairwise_fastdtw_sub" -> ((s, dir) =>
      Distances.pairwise(
        IO.events(s, dir).filter(col("user_id") < OraclePins.FastDtwSubsetUsers),
        "dtw", Map("radius" -> OraclePins.FastDtwRadius.toDouble))
        .select(col("id_1"), col("id_2"), r6n(col("dtw")).as("dtw"))),
    // degenerate-exactness oracle (VERDICT r9 ask #5): radius >= every
    // series length makes fastDtw hit its base case and return DTW BY
    // CONSTRUCTION, so the multiresolution entry point itself gets a
    // hash row against the plain DTW oracle (the approximation quality
    // at small radius stays invariant-spec'd in ElasticSpec)
    "ts_pairwise_fastdtw_exact" -> ((s, dir) =>
      Distances.pairwise(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        "dtw", Map("radius" -> 1000000.0))
        .select(col("id_1"), col("id_2"), r6n(col("dtw")).as("dtw"))),
    "ts_pairwise_dtw_multi" -> ((s, dir) =>
      Distances.pairwiseMulti(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
          .withColumn("value2", col("value") * graft.kernels.ElasticParams.Multi2Scale
            + graft.kernels.ElasticParams.Multi2Shift),
        Seq("value", "value2"), "dtw_multi")
        .select(col("id_1"), col("id_2"), r6n(col("dtw_multi")).as("dtw_multi"))),
    "ts_pairwise_msm_multi" -> ((s, dir) =>
      Distances.pairwiseMulti(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
          .withColumn("value2", col("value") * graft.kernels.ElasticParams.Multi2Scale
            + graft.kernels.ElasticParams.Multi2Shift),
        Seq("value", "value2"), "msm_multi")
        .select(col("id_1"), col("id_2"), r6n(col("msm_multi")).as("msm_multi"))),
    "ts_pairwise_itakura" -> ((s, dir) =>
      Distances.pairwise(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        "dtw", Map("max_slope" -> graft.kernels.ElasticParams.ItakuraMaxSlope))
        .select(col("id_1"), col("id_2"), r6n(col("dtw")).as("dtw"))),
    "ts_pairwise_sakoe" -> ((s, dir) =>
      Distances.pairwise(
        IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)),
        "dtw", Map("window" -> graft.kernels.ElasticParams.SakoeWindow.toDouble))
        .select(col("id_1"), col("id_2"), r6n(col("dtw")).as("dtw"))),

    // ── temporal joins & sessionization (round-9): the polars
    // `join_asof` / interval-join / gap-session surface a reference user
    // gets from the host engine, re-expressed Spark-first (one hash
    // exchange + window carry; bucketed equi range join — see
    // ops/TemporalJoins.scala scaladoc for the scale design) ────────────
    "ts_asof_backward" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val r = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
          Seq("click_id", "click_value"))
        .select("user_id", "event_id", "ts", "asof_ts", "click_id", "click_value")
    }),

    "ts_asof_tolerance" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val r = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
          Seq("click_id", "click_value"),
          toleranceUs = Some(86400000000L)) // 1 day
        .select("user_id", "event_id", "ts", "asof_ts", "click_id", "click_value")
    }),

    "ts_asof_forward" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val r = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("error_id"))
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
          Seq("error_id"), direction = "forward")
        .select("user_id", "event_id", "ts", "asof_ts", "error_id")
    }),

    "ts_asof_nearest" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val r = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
          Seq("signup_id"), direction = "nearest")
        .select("user_id", "event_id", "ts", "asof_ts", "signup_id")
    }),

    // strict mode (pandas merge_asof allow_exact_matches=False) on a
    // SECOND table: each order's previous order date for the same
    // customer. Right side pre-aggregated per (custkey, date) so
    // duplicate order dates carry a deterministic key.
    "ts_asof_strict" -> ((s, dir) => {
      val o = IO.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
      val r = o.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("prev_orderkey"))
      TemporalJoins.asofJoin(o, r, Seq("o_custkey"),
          "o_orderdate", "o_orderdate", Seq("prev_orderkey"),
          allowExactMatches = false)
        .select("o_custkey", "o_orderkey", "o_orderdate", "asof_ts",
          "prev_orderkey")
    }),

    // the same as-of semantics on the whole-operator Catalyst tier
    // (AsofJoin logical node → GraftStrategy → AsofJoinExec sort-merge;
    // plans/AsofJoinPlan.scala) — same oracles as the composed forms,
    // so the two plan shapes are pinned to identical results
    "ts_asof_native_backward" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val r = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts",
          Seq("click_id", "click_value"))
        .select("user_id", "event_id", "ts", "asof_ts", "click_id", "click_value")
    }),

    "ts_asof_native_nearest" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val r = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))
      TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts",
          Seq("signup_id"), direction = "nearest")
        .select("user_id", "event_id", "ts", "asof_ts", "signup_id")
    }),

    "ts_asof_native_strict" -> ((s, dir) => {
      val o = IO.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
      val r = o.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("prev_orderkey"))
      TemporalJoins.asofJoinNative(o, r, Seq("o_custkey"),
          "o_orderdate", "o_orderdate", Seq("prev_orderkey"),
          allowExactMatches = false)
        .select("o_custkey", "o_orderkey", "o_orderdate", "asof_ts",
          "prev_orderkey")
    }),

    // the SQL front door (r11): the SAME native as-of operator reached
    // purely through spark.sql text — the graft_asof TVF resolves the
    // two views through the session catalog and returns the identical
    // analyzed AsofJoin plan the Scala API builds. Shares the backward
    // oracle with both other plan shapes: one DuckDB truth, THREE front
    // doors (composed window, native Scala API, SQL TVF).
    "ts_asof_sql" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val e = IO.events(s, dir)
      e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
        .createOrReplaceTempView("graft_sql_asof_l")
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
        .createOrReplaceTempView("graft_sql_asof_r")
      s.sql(
        """SELECT user_id, event_id, ts, asof_ts, click_id, click_value
          |FROM graft_asof('graft_sql_asof_l', 'graft_sql_asof_r',
          |  'user_id', 'ts', 'ts', 'click_id,click_value')""".stripMargin)
    }),

    // the interval-join SQL front door: graft_range_join TVF over the
    // native sort-merge sweep, same oracle as the other two range shapes
    "ts_range_sql" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val e = IO.events(s, dir)
      e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as("w_end"))
        .createOrReplaceTempView("graft_sql_range_r")
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
        .createOrReplaceTempView("graft_sql_range_l")
      s.sql(
        """SELECT user_id, click_id, error_id
          |FROM graft_range_join('graft_sql_range_l', 'graft_sql_range_r',
          |  'user_id', 'ts', 'w_start', 'w_end')""".stripMargin)
    }),

    // the same range join through its whole-operator name
    // (IntervalJoinExec sweep; plans/IntervalJoinPlan.scala);
    // ts_range_join delegates to it, so the two run one plan — same
    // oracle
    "ts_range_join_native" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as("w_end"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      TemporalJoins.rangeJoinNative(clk, err, Seq("user_id"), "ts",
          "w_start", "w_end")
        .select("user_id", "click_id", "error_id")
    }),

    // clicks inside the 1-day window after each error, per user — one
    // IntervalJoinExec sweep (bucketUs is accepted and ignored)
    "ts_range_join" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as("w_end"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      TemporalJoins.rangeJoin(clk, err, Seq("user_id"), "ts",
          "w_start", "w_end", bucketUs = 6L * 3600 * 1000000)
        .select("user_id", "click_id", "error_id")
    }),

    "ts_sessionize" -> ((s, dir) =>
      TemporalJoins.sessionize(IO.events(s, dir), Seq("user_id"), "ts",
          gapUs = 6L * 3600 * 1000000, tieBreak = Seq("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"), r6n(sum("value")).as("sum_value"))),

    // sessionize through the SQL front door (r11): the graft_sessionize
    // TVF + a plain SQL aggregation, same oracle as the Scala form
    "ts_sessionize_sql" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      IO.events(s, dir).createOrReplaceTempView("graft_sql_sess")
      s.sql(
        """SELECT user_id, session_id, min(ts) AS session_start,
          |  max(ts) AS session_end, count(*) AS n_events,
          |  round(sum(value) + 1e-9, 6) AS sum_value
          |FROM graft_sessionize('graft_sql_sess', 'user_id', 'ts',
          |  21600000000, 'event_id')
          |GROUP BY user_id, session_id""".stripMargin)
    }),

    // interval×interval: overlapping 1-day activity windows of errors vs
    // purchases per user — two IntervalJoinExec sweeps (left start in
    // right ∪ right start strictly in left, each pair exactly once)
    "ts_overlap_join" -> ((s, dir) => {
      val e = IO.events(s, dir)
      def win(t: String, idAs: String) = e.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(idAs),
          col("ts").as(s"${idAs}_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as(s"${idAs}_end"))
      TemporalJoins.overlapJoin(
          win("error", "error_id"), win("purchase", "purchase_id"),
          Seq("user_id"), "error_id_start", "error_id_end",
          "purchase_id_start", "purchase_id_end",
          bucketUs = 6L * 3600 * 1000000)
        .select("user_id", "error_id", "purchase_id")
    }),

    // the same overlap join through its whole-operator name;
    // ts_overlap_join delegates to it, so the two run one plan — same
    // oracle
    "ts_overlap_join_native" -> ((s, dir) => {
      val e = IO.events(s, dir)
      def win(t: String, idAs: String) = e.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(idAs),
          col("ts").as(s"${idAs}_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as(s"${idAs}_end"))
      TemporalJoins.overlapJoinNative(
          win("error", "error_id"), win("purchase", "purchase_id"),
          Seq("user_id"), "error_id_start", "error_id_end",
          "purchase_id_start", "purchase_id_end")
        .select("user_id", "error_id", "purchase_id")
    }),

    // the overlap SQL front door (r12): graft_overlap_join TVF over the
    // two-sweep native decomposition, same oracle as the other two forms
    "ts_overlap_sql" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val e = IO.events(s, dir)
      def win(t: String, idAs: String) = e.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(idAs),
          col("ts").as(s"${idAs}_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as(s"${idAs}_end"))
      win("error", "error_id").createOrReplaceTempView("graft_sql_ov_l")
      win("purchase", "purchase_id").createOrReplaceTempView("graft_sql_ov_r")
      s.sql(
        """SELECT user_id, error_id, purchase_id
          |FROM graft_overlap_join('graft_sql_ov_l', 'graft_sql_ov_r',
          |  'user_id', 'error_id_start', 'error_id_end',
          |  'purchase_id_start', 'purchase_id_end')""".stripMargin)
    }),

    // feature-store point-in-time join (r12: hash-gated — was spec-only):
    // purchase spine against TWO feature tables in sequence on the
    // whole-operator tier; AsofJoinExec reports outputPartitioning =
    // left, so step 2 reuses step 1's exchange
    "ts_pit_join" -> ((s, dir) => {
      val e = IO.events(s, dir)
      val spine = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("error_value"))
      TemporalJoins.pointInTimeJoin(spine, Seq("user_id"), "ts",
        Seq((clicks, "ts", Seq("click_value"), None),
          (errors, "ts", Seq("error_value"), None)))
    }),

    // the same two-step PIT through the SQL front door: chained
    // graft_pit_join TVF calls (step 1's output registered as a view),
    // same oracle as the Scala form
    "ts_pit_sql" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val e = IO.events(s, dir)
      e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
        .createOrReplaceTempView("graft_sql_pit_spine")
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
        .createOrReplaceTempView("graft_sql_pit_clicks")
      e.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("error_value"))
        .createOrReplaceTempView("graft_sql_pit_errors")
      s.sql(
        """SELECT * FROM graft_pit_join('graft_sql_pit_spine',
          |  'graft_sql_pit_clicks', 'user_id', 'ts', 'ts',
          |  'click_value')""".stripMargin)
        .createOrReplaceTempView("graft_sql_pit_step1")
      s.sql(
        """SELECT * FROM graft_pit_join('graft_sql_pit_step1',
          |  'graft_sql_pit_errors', 'user_id', 'ts', 'ts',
          |  'error_value', NULL, 1)""".stripMargin)
    }),

    // group_by_dynamic through the SQL front door (r12), same oracle as
    // the Scala form
    "ts_group_dynamic_sql" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      IO.events(s, dir).createOrReplaceTempView("graft_sql_gd")
      s.sql(
        """SELECT user_id, ts, round(value, 6) AS value, n_obs
          |FROM graft_group_dynamic('graft_sql_gd', 'user_id', 'ts',
          |  'value', '30 minutes', '2 hours')""".stripMargin)
    }),

    // Morton interleave key for z-order layout clustering (the pure bit
    // fold — the repartitionByRange rewrite on top is plan-shaped, not
    // value-shaped, so the KEY is what the oracle hashes)
    "ts_zorder_key" -> ((s, dir) =>
      IO.events(s, dir).select(col("event_id"),
        Layout.zorderKey(Seq(col("user_id"),
          expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 4096")),
          bits = 12).as("zkey"))),

    // ── batch E: imaging, kshape, arima-lite, importance, kaboudan ──────
    "ts_impute_seasonal" -> ((s, dir) =>
      Impute.impute(withSynthNulls(IO.events(s, dir)), "seasonal", period = 24)
        .select("user_id", "event_id", "value")),

    "ts_imaging_rqa" -> ((s, dir) => {
      val u = udf((ys: Seq[Double]) => {
        val arr = ys.toArray
        val z = graft.kernels.Cluster.zNorm(arr)
        val (rr, det) = graft.kernels.Imaging.rqa(z, 0.2)
        val g = graft.kernels.Imaging.gasf(arr)
        val m = graft.kernels.Imaging.mtf(arr, 8)
        val trace = (0 until g.length).map(i => g(i)(i)).sum / g.length
        val mtfMean = m.map(_.sum).sum / (m.length.toDouble * m.length)
        (rr, det, trace, mtfMean)
      })
      graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), u(col("ys")).as("__r"))
        .select(col("user_id"), col("__r._1").as("recurrence_rate"),
          col("__r._2").as("determinism"), r6n(col("__r._3")).as("gasf_trace_mean"),
          r6n(col("__r._4")).as("mtf_mean"))
    }),

    "ts_arima_fc" -> ((s, dir) => {
      val u = udf((ys: Seq[Double]) =>
        graft.kernels.ArimaLite.forecast(ys.toArray, p = 2, d = 1, h = 5))
      graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), posexplode(u(col("ys"))).as(Seq("__i", "y_hat")))
        .withColumn("step", col("__i") + 1)
        .select(col("user_id"), col("step"), r6n(col("y_hat")).as("y_hat"))
    }),

    // distributed k-shape: raw series stay on executors; only k len×len
    // Gram matrices reach the driver (was: collect() of every series).
    "ts_kshape" -> ((s, dir) =>
      Clustering.kshapeCluster(IO.events(s, dir), k = 3)),

    "ts_kmeans_dba" -> ((s, dir) =>
      Clustering.kmeansDba(IO.events(s, dir), k = 3, maxIter = 5)),

    "ts_kasba" -> ((s, dir) =>
      Clustering.kasbaCluster(IO.events(s, dir), k = 3, maxIter = 5)),

    "ts_auto_cluster" -> ((s, dir) => {
      // 60-series subset (the elastic-oracle discipline) so the oracle can
      // recompute the full SBD matrix; silhouettes rounded (r6n) and the
      // winner picked on the ROUNDED score with grid-order tie-break, so
      // the selection itself replays deterministically in DuckDB
      val ev = IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter))
      val (_, m) = Clustering.distanceMatrix("autoCluster", ev, "sbd")(PC)
      val results = for {
        k <- Seq(2, 3, 4)
        (method, labels) <- Seq(
          "kmedoids" -> graft.kernels.Cluster.pam(m, k)._1,
          "agglomerative" -> graft.kernels.Cluster.agglomerative(m, k))
      } yield (method, k, graft.kernels.Cluster.silhouette(m, labels))
      val rounded = results.map { case (m0, k0, s0) => (m0, k0, r6dbl(s0)) }
      val bestIdx = rounded.zipWithIndex
        .maxBy { case ((_, _, s0), i) => (s0, -i) }._2
      import s.implicits._
      rounded.zipWithIndex
        .map { case ((m0, k0, s0), i) => (m0, k0, s0, i == bestIdx) }
        .toDF("method", "k", "silhouette", "is_best")
    }),

    // ── refit-vs-pin audits (VERDICT r7 ask #2, the emb_pca_var pattern):
    // each pinned fit re-runs from scratch at Verify time and is compared
    // against the pin the replay oracles inline; the oracle checks the
    // rounded max-|diff| against 0, closing the pinned-oracle circularity
    // caveat. The fits are deterministic — ulp-level treeAggregate
    // reduce-order noise is absorbed by the shared r6 rounding. Outside
    // Verify (no pin) the refit compares against itself (smoke row only).
    "ts_kshape_refit_audit" -> ((s, dir) => {
      val (_, minLen, cents) = Clustering.kshapeFitFull(IO.events(s, dir), k = 3)
      val (pl, pcs) = OraclePins.kshape.getOrElse((minLen, cents))
      val diff = math.max(maxAbsDiff2(cents, pcs),
        if (pl == minLen) 0.0 else Double.MaxValue)
      import s.implicits._
      Seq((3, minLen, r6dbl(diff))).toDF("k", "min_len", "max_abs_diff")
    }),

    "ts_dba_refit_audit" -> ((s, dir) => {
      val (_, minLen, cents) =
        Clustering.kmeansDbaFitFull(IO.events(s, dir), k = 3, maxIter = 5)
      val (pl, pcs) = OraclePins.kmeansDba.getOrElse((minLen, cents))
      val diff = math.max(maxAbsDiff2(cents, pcs),
        if (pl == minLen) 0.0 else Double.MaxValue)
      import s.implicits._
      Seq((3, minLen, r6dbl(diff))).toDF("k", "min_len", "max_abs_diff")
    }),

    "ts_kasba_refit_audit" -> ((s, dir) => {
      val (_, minLen, cents) =
        Clustering.kasbaFitFull(IO.events(s, dir), k = 3, maxIter = 5)
      val (pl, pcs) = OraclePins.kasba.getOrElse((minLen, cents))
      val diff = math.max(maxAbsDiff2(cents, pcs),
        if (pl == minLen) 0.0 else Double.MaxValue)
      import s.implicits._
      Seq((3, minLen, r6dbl(diff))).toDF("k", "min_len", "max_abs_diff")
    }),

    "ts_spectral_refit_audit" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val (ids, m) = Clustering.distanceMatrix("spectral", ev, "sbd")(PC)
      val emb = graft.kernels.Cluster.spectralEmbedding(m, 3)
      val cen = graft.kernels.Cluster.lloydFit(emb, 3, 42L)._2
      val (pids, pemb, pcen) = OraclePins.spectral.getOrElse((ids, emb, cen))
      val diff = Seq(maxAbsDiff2(emb, pemb), maxAbsDiff2(cen, pcen),
        if (ids.sameElements(pids)) 0.0 else Double.MaxValue).max
      import s.implicits._
      Seq((ids.length.toLong, r6dbl(diff))).toDF("n_series", "max_abs_diff")
    }),

    "ts_auto_arima_refit_audit" -> ((s, dir) => {
      val series = graft.core.Panel.grouped(IO.events(s, dir))(PC)
        .select(col("user_id"), col("ys")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val refit = series.map { case (u, ys) =>
        val (p, d, q, fit) = graft.kernels.Arima.autoFit(ys, maxP = 2, maxQ = 2)
        val phi = fit.phi.padTo(2, 0.0)
        val th = fit.theta.padTo(2, 0.0)
        (u, d, math.max(p, q), phi(0), phi(1), th(0), th(1), fit.c)
      }
      val pin = OraclePins.autoArima.getOrElse(refit.toSeq)
      val pmap = pin.map(t => t._1 -> t).toMap
      var orderMismatch = 0L
      var maxDiff = 0.0
      refit.foreach { case (u, d, m, p1, p2, t1, t2, c) =>
        pmap.get(u) match {
          case Some((_, pd, pm, q1, q2, s1, s2, pc2)) =>
            if (pd != d || pm != m) orderMismatch += 1
            maxDiff = math.max(maxDiff, Seq(p1 - q1, p2 - q2, t1 - s1,
              t2 - s2, c - pc2).map(math.abs).max)
          case None => orderMismatch += 1
        }
      }
      if (pin.size != refit.length) orderMismatch += 1
      import s.implicits._
      Seq((series.length.toLong, orderMismatch, r6dbl(maxDiff)))
        .toDF("n_series", "order_mismatch", "max_coef_diff")
    }),

    "ts_kaboudan" -> ((s, dir) => {
      // block-shuffle-by-id backtest metric: eta = 1 - sse_orig/sse_shuffled
      // (reference metrics/kaboudan.py:21-216), persistence as the model,
      // deterministic block permutation via xxhash64 of the block index.
      val ev = IO.events(s, dir)
      val blockSize = 8
      val withBlock = ev
        .withColumn("__rn", row_number().over(PC.w))
        .withColumn("__block", ((col("__rn") - 1) / blockSize).cast("long"))
      val shuffled = withBlock
        .withColumn("__border", TextOps.fnvHash(
          concat_ws("_", col("user_id"), col("__block"))))
        .withColumn("__srn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("__border"), col("__rn"))))
        .select(col("user_id"), col("__srn").as("__rn"), col("value").as("__shuf"))
      val rnW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("__rn"))
      val joined = withBlock.join(shuffled, Seq("user_id", "__rn"))
        .withColumn("__eo", pow(col("value") - lag(col("value"), 1).over(rnW), 2))
        .withColumn("__es", pow(col("__shuf") - lag(col("__shuf"), 1).over(rnW), 2))
      joined.groupBy(col("user_id"))
        .agg(sum(col("__eo")).as("__so"), sum(col("__es")).as("__ss"))
        .select(col("user_id"),
          r6n(lit(1.0) - col("__so") / col("__ss")).as("kaboudan_eta"))
    }),

    "ts_perm_importance" -> ((s, dir) => {
      // permutation importance of lag-1 feature for persistence MAE
      // (reference importance.py:11-100): deterministic hash shuffle.
      val ev = IO.events(s, dir)
        .withColumn("y_hat", lag(col("value"), 1).over(PC.w))
        .filter(col("y_hat").isNotNull)
      val base = Metrics.grouped(ev, "value", "y_hat").select(col("user_id"), col("mae"))
      val n = ev.withColumn("__rn", row_number().over(PC.w))
      val perm = n.withColumn("__srn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(TextOps.fnvHash(col("event_id")))))
        .select(col("user_id"), col("__srn").as("__rn"), col("y_hat").as("__ph"))
      val shuffledMae = n.drop("y_hat").join(perm, Seq("user_id", "__rn"))
        .groupBy(col("user_id")).agg(avg(abs(col("value") - col("__ph"))).as("mae_shuffled"))
      base.join(shuffledMae, Seq("user_id"))
        .select(col("user_id"), r6n(col("mae_shuffled") - col("mae")).as("importance"))
    }),

    "ts_knn_classify_dtw" -> ((s, dir) => {
      // classify held-out series by DTW-nearest neighbors' synthetic label
      val ev = IO.events(s, dir)
      val test = ev.filter(col("user_id") < 5)
      val train = ev.filter(col("user_id") >= 5)
      val pairs = Distances.pairwiseCross(test, train, "dtw", topK = 5)(PC)
        .select(col("id_1").as("query_id"), col("id_2").as("neighbor_id"),
          col("dtw").as("score"))
      val labels = train.select(col("user_id").as("vec_id")).distinct()
        .withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
      Evaluation.knnClassify(pairs, labels, k = 5)
    }),

    // ── batch F ─────────────────────────────────────────────────────────
    "ts_fourier_decomp" -> ((s, dir) =>
      Decomposition.fourier(IO.events(s, dir), period = 24.0, k = 2)
        .select(col("user_id"), col("event_id"), r6n(col("trend")).as("trend"),
          r6n(col("seasonal")).as("seasonal"), r6n(col("resid")).as("resid"))),

    "ts_spectral" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val (ids, m) = Clustering.distanceMatrix("spectral", ev, "sbd")(PC)
      val labels = graft.kernels.Cluster.spectral(m, k = 3)
      import s.implicits._
      ids.zip(labels).toSeq.toDF("unique_id", "cluster")
    }),

    "ts_direct_fc" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val models = Pipeline.fitDirectRidge(ev, lags = 3, h = 3)
      Pipeline.directForecast(ev, models, h = 3)
        .select(col("user_id"), col("step"), col("ts"), r6n(col("y_hat")).as("y_hat"))
    }),

    "ts_compare_models" -> ((s, dir) =>
      Pipeline.compareModels(IO.events(s, dir), Seq(
        "naive" -> ((train, h) => ForecastBaselines.naive(train, h)),
        "moving_average" -> ((train, h) => ForecastBaselines.movingAverage(train, h, 12)),
        "ses" -> ((train, h) => ForecastBaselines.ses(train, h))),
        folds = 2, horizon = 12)
        .select(col("rank"), col("model"), r6n(col("mae")).as("mae"),
          r6n(col("rmse")).as("rmse"))),

    // in-gate verification of the EnbPI bootstrap+OOB machinery at a
    // 5-user scale (the ts_enbpi oracle pins coefs/quantiles — see
    // OraclePins — so the FNV-Poisson weight replay must be checked here)
    "ts_enbpi_oob" -> ((s, dir) => {
      val ev = IO.events(s, dir).filter(col("user_id") < ForecastOracle.EnbpiOobUsers)
      val model = Conformal.enbpiFit(ev, lags = 3, b = ForecastOracle.EnbpiB,
        seed = ForecastOracle.EnbpiSeed)
      Conformal.enbpiQuantiles(model)
        .select(col("user_id"), r6n(col("qhat")).as("qhat"))
    }),

    "ts_enbpi" -> ((s, dir) => {
      val ev = IO.events(s, dir)
      val model = Conformal.enbpiFit(ev, lags = 3, b = ForecastOracle.EnbpiB,
        seed = ForecastOracle.EnbpiSeed)
      Conformal.enbpiPredict(ev, model, h = 5)
        .select(col("user_id"), col("step"), col("ts"),
          r6n(col("y_hat")).as("y_hat"),
          r6n(col("y_hat_lower")).as("y_hat_lower"),
          r6n(col("y_hat_upper")).as("y_hat_upper"))
    }),

    "emb_knn_ivf" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 3)
        .select(col("query_id"), col("neighbor_id"),
          r6n(col("cosine")).as("cosine"), col("rank"))
    }),

    // quantified ANN honesty, ASSERTED in the gate (r11, VERDICT r10
    // ask #3): recall@k of each approximate index against the
    // brute-force ground truth, emitted as (method, recall_bucket,
    // threshold, pass) and hash-checked against a pinned threshold
    // table — a recall regression now goes gate-RED instead of hiding
    // in a rows-only row. recall_bucket = floor(recall·20)/20 pins the
    // measured level at 5% granularity (deterministic hashes/centroids
    // make the exact values reproducible; the bucket absorbs nothing
    // bigger than one borderline neighbor).
    "emb_knn_recall" -> ((s, dir) => {
      import s.implicits._
      val emb = IO.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 20)
      val brute = Similarity.bruteForceTopK(emb, q, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val truth = brute.count().toDouble
      def recall(approx: DataFrame, name: String): DataFrame =
        approx.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"))
          .agg(round(count(lit(1)) / lit(truth), 6).as("recall"))
          .withColumn("method", lit(name))
      val centers = Similarity.ivfCentroids(emb)
      val thresholds = Seq(("lsh", 0.85), ("ivf", 0.85), ("ivfpq", 0.80),
        ("hnsw", 0.95)).toDF("method", "threshold")
      recall(Similarity.lshTopK(emb, q, k = 3, dim = 64, bits = 3, probes = 6), "lsh")
        .unionByName(recall(Similarity.ivfTopK(emb, q, k = 3, nCells = 16, nprobe = 8), "ivf"))
        .unionByName(recall(Similarity.ivfPqTopK(emb, q, k = 3, centers,
          Similarity.ivfPqFit(emb, centers), nprobe = 8), "ivfpq"))
        .unionByName(recall(
          Similarity.hnswTopK(emb, q, k = 3, numPartitions = 4), "hnsw"))
        .join(broadcast(thresholds), "method")
        .select(col("method"),
          (floor(col("recall") * 20 + lit(1e-9)) / 20).as("recall_bucket"),
          col("threshold"), (col("recall") >= col("threshold")).as("pass"))
    }),

    // HNSW graph ANN (beyond-reference tier; r9): partition-local
    // deterministic small-world graphs + broadcast-query ef-search +
    // global top-k merge. Graph search is not SQL-expressible, so this
    // runs rows-only like the recall audits; determinism, structure
    // invariants, and >=0.9/0.95 recall are pinned in HnswSpec, and the
    // hnsw leg of emb_knn_recall records the measured recall each gate.
    "emb_knn_hnsw" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      Similarity.hnswTopK(emb, emb.filter(col("vec_id") < 20), k = 3,
          numPartitions = 4)
        .select(col("query_id"), col("neighbor_id"),
          r6n(col("cosine")).as("cosine"), col("rank"))
    }),

    // hash-oracled HNSW subset (VERDICT r9 ask #4): on a pinned 60-vector
    // base split over 2 partition-local graphs, efSearch = 64 >= every
    // partition's node count makes the layer-0 beam exhaustive — each
    // partition returns its EXACT local top-k and the global merge
    // (cosine desc, neighbor_id) is exact brute-force top-k by
    // construction, so the deterministic graph search gets a full hash
    // row against the brute SQL oracle (recall leg already measures 1.0)
    "emb_knn_hnsw_sub" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).filter(col("vec_id") < 60)
      Similarity.hnswTopK(emb, emb.filter(col("vec_id") < 20), k = 3,
          efSearch = 64, numPartitions = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    }),

    // MMR diversity re-rank (r10): brute top-10 per query → greedy
    // λ·rel − (1−λ)·maxsim selection of 5. rel is rounded 6dp on BOTH
    // engines so the greedy's dominant input is bit-identical; the
    // oracle replays the same first-max-of-the-id-sorted-list rule in a
    // DuckDB list fold.
    "emb_mmr_rerank" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          r6n(col("cosine")).as("rel"))
      val withVec = topk.join(
        emb.select(col("vec_id").as("cand_id"), col("embedding")), "cand_id")
      Similarity.mmrRerank(withVec, k = 5, lambda = 0.7)
        .select(col("query_id"), col("cand_id"),
          col("mmr_rank").cast("long").as("mmr_rank"),
          r6n(col("mmr_score")).as("mmr_score"))
    }),

    // IVFADC — the missing 100 TB ANN composition (VERDICT r6 ask #3):
    // coarse cells prune the corpus, residual PQ codes shortlist it,
    // exact cosine re-ranks the shortlist (Jégou §V-D); the scan side
    // carries a cell id + 8 bytes per vector, never the vector
    "emb_knn_ivfpq" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      val centers = Similarity.ivfCentroids(emb)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), k = 3,
          centers, Similarity.ivfPqFit(emb, centers))
        .select(col("query_id"), col("neighbor_id"),
          r6n(col("cosine")).as("cosine"), col("rank"))
    }),

    "emb_near_dup" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      // inject exact duplicates so the near-dup path has hits
      val dups = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity.cosineNearDup(emb.unionByName(dups), threshold = 0.9)
        .select(col("id_a"), col("id_b"), r6n(col("cosine")).as("cosine"))
    }),

    // PCA over the embedding corpus: one-pass distributed Gram + driver
    // eigensolve; the projection is a narrow broadcast map (no shuffle)
    "emb_pca" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      val m = Embeddings.pcaFit(emb, k = 4)
      Embeddings.pcaProject(emb, m).select(col("vec_id") +:
        (1 to 4).map(j => r6n(col(s"pc$j")).as(s"pc$j")): _*)
    }),

    "emb_pca_var" -> ((s, dir) => {
      import s.implicits._
      val m = Embeddings.pcaFit(IO.embeddings(s, dir), k = 4)
      m.explained.zipWithIndex
        .map { case (e, j) => (j + 1, math.round((e + 1e-9) * 1e6) / 1e6) }
        .toSeq.toDF("component", "explained_ratio")
    }),

    // int8 scalar quantization: per-dim affine codes + reconstruction MSE
    // (codes serialized to a canonical CSV string — the gate's hash
    // compare needs scalar cells, not arrays)
    "emb_quantize_sq" -> ((s, dir) =>
      Embeddings.scalarQuantize(IO.embeddings(s, dir))
        .select(col("vec_id"),
          concat_ws(",", col("codes")).as("codes"),
          r6n(col("mse")).as("mse"))),

    // product quantization: m=8 subspaces x 16 centroids → 8-byte codes;
    // codes query + ADC top-k over the compressed corpus
    "emb_pq_codes" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      Embeddings.pqEncode(emb, Embeddings.pqFit(emb))
        .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"))
    }),

    "emb_knn_pq" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir)
      Embeddings.pqAdcTopK(emb, emb.filter(col("vec_id") < 20), k = 3,
          Embeddings.pqFit(emb))
        .select(col("query_id"), col("neighbor_id"),
          r6n(col("adc")).as("adc"), col("rank"))
    }),

    // SemDeDup over the corpus + injected exact copies: quantizer trained
    // on the BASE corpus (same fit as emb_knn_ivf → shared centroid pin)
    "emb_semdedup" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity.semDedup(emb.unionByName(dups),
          Similarity.ivfCentroids(emb), threshold = 0.95)
        .select(col("vec_id"), col("cell"), col("is_dup"),
          r6n(col("max_prior_cosine")).as("max_prior_cosine"))
    }),

    // incremental SemDeDup: the +100000 dup vectors arrive as the NEW
    // slice against the originals' persisted (id, cell, vector) state
    // under the SAME pinned quantizer — oracle = full-run SQL filtered
    "emb_semdedup_incremental" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 100000)
      val centers = Similarity.ivfCentroids(emb)
      Similarity.semDedupIncremental(dups,
          Similarity.semDedupState(emb, centers), centers, threshold = 0.95)
        .select(col("vec_id"), col("cell"), col("is_dup"),
          r6n(col("max_prior_cosine")).as("max_prior_cosine"))
    }),

    // topic buckets over the embedding corpus: the IVF cells reread as
    // curation strata (same base-corpus quantizer fit → shared centroid
    // pin with emb_knn_ivf/emb_semdedup)
    "emb_topic_assign" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      Similarity.topicAssign(emb, Similarity.ivfCentroids(emb))
        .select(col("vec_id"), col("topic"),
          r6n(col("centroid_dist")).as("centroid_dist"))
    }),

    // cluster-balanced subsample: ≤20 vectors per topic, stable hash order
    "emb_topic_sample" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      Similarity.topicBalancedSample(emb, Similarity.ivfCentroids(emb),
          quota = 20)
        .select("vec_id", "topic")
    }),

    // semantic decontamination: max cosine of each corpus vector to the
    // vec_id%25==0 "benchmark" slice (plus its own members at cos 1.0)
    "emb_semantic_decontam" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      Decontam.semanticOverlap(emb, emb.filter(pmod(col("vec_id"), lit(25)) === 0),
          threshold = 0.9)
        .select(col("vec_id"), r6n(col("max_bench_cosine")).as("max_bench_cosine"),
          col("contaminated"))
    }),

    // prototype-difficulty pruning (Sorscher et al. 2022): difficulty =
    // 1 − cosine to the nearest k-means prototype (shared centroid pin),
    // keep the hardest 70% via the binned-quantile threshold
    "emb_prototype_prune" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      Similarity.prototypePrune(emb, Similarity.ivfCentroids(emb),
          keepFrac = 0.7)
        .select(col("vec_id"), col("cell"),
          r6n(col("proto_cos")).as("proto_cos"), col("keep"))
    }),

    // recall audit for the near-dup LSH path: exact all-pairs ground
    // truth at the same threshold vs the bucketed candidates (the
    // emb_knn_recall pattern extended to pairs)
    "emb_near_dup_recall" -> ((s, dir) => {
      val emb = IO.embeddings(s, dir).select("vec_id", "embedding")
      val dups = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 100000)
      val all = emb.unionByName(dups)
      val v = all.select(col("vec_id").as("__id"),
        col("embedding").cast("array<double>").as("__v"))
      val exact = v.as("a").join(v.as("b"), col("a.__id") < col("b.__id"))
        .withColumn("cosine", Similarity.cosine(col("a.__v"), col("b.__v")))
        .filter(col("cosine") >= 0.9)
        .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      val truth = exact.count().toDouble
      Similarity.cosineNearDup(all, threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .join(exact, Seq("id_a", "id_b"))
        .agg(round(count(lit(1)) / lit(truth), 6).as("recall"))
        // asserted like emb_knn_recall (r11): pinned-threshold hash row
        .select(lit("cosine_near_dup").as("method"),
          (floor(col("recall") * 20 + lit(1e-9)) / 20).as("recall_bucket"),
          lit(0.95).as("threshold"),
          (col("recall") >= 0.95).as("pass"))
    }),

    "doc_simhash_pairs" -> ((s, dir) => {
      val docs = IO.documents(s, dir).select("doc_id", "text")
      val dups = docs.withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" tail")))
      // maxHamming=7 → 8 chunks of 8 bits; recall guaranteed by pigeonhole
      Dedup.simhashPairs(docs.unionByName(dups), maxHamming = 7)
    }),

    // ── multimodal plumbing (decode step stubbed — see Multimodal) ──────
    "mm_features" -> ((s, dir) => {
      val bin = IO.documents(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
      // real header parsing (VERDICT r7 ask #7): wrap a third of the
      // corpus in valid PNG containers and a third in JPEG SOF0
      // containers with dimensions derived from n_chars; decodeHeader
      // parses the real format bytes back and the oracle cross-checks
      // against the independent arithmetic ground truth
      val wrap = udf((docId: Long, nChars: Long, payload: Array[Byte]) => {
        val w = (nChars % 64).toInt + 1
        val h = ((nChars / 64) % 64).toInt + 1
        (docId % 3) match {
          case 0 => Multimodal.pngContainer(w, h,
            colorType = if (docId % 2 == 0) 2 else 0, payload)
          case 1 => Multimodal.jpegContainer(w, h,
            nComp = if (docId % 2 == 0) 3 else 1, payload)
          case _ => payload
        }
      })
      val withC = bin.withColumn("container",
        wrap(col("doc_id"), col("n_chars"), col("payload")))
      Multimodal.extractFeatures(
        Multimodal.withHeaderMetadata(
          Multimodal.withMediaMetadata(withC, "payload"), "container"), "payload")
        .select(col("doc_id"), col("payload_size_bytes"), col("payload_sha256"),
          round(element_at(col("media_features"), 1) + 1e-9, 6).as("f0"),
          col("container_format").as("format"),
          col("container_width").as("width"),
          col("container_height").as("height"),
          col("container_channels").as("channels"))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      val bin = IO.documents(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.sampleFrames(bin, "payload", frameSize = 100, stride = 2)
        .select(col("doc_id"), col("frame_index").cast("long").as("frame_index"),
          col("byte_offset"))
    }),

    // REAL pixel decode (VERDICT r8 ask #5): per document, synthesize a
    // deterministic raster, encode it as a REAL PNG (zlib deflate, CRCs,
    // cycling scanline filters 0–4, multi-IDAT at 512 B), run the REAL
    // decoder (inflate + unfilter), and aggregate the decoded pixels.
    // The oracle replays the raster-generation arithmetic directly — it
    // never sees the PNG bytes — so a hash match proves the full
    // encode→decode byte path reconstructs every pixel exactly.
    "mm_pixel_features" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val u = udf((docId: Long, nChars: Long) => {
        val w = (nChars % 24).toInt + 4
        val h = ((nChars / 24) % 24).toInt + 4
        val ch = (docId % 4).toInt + 1
        val n = w * h * ch
        val px = new Array[Byte](n)
        var i = 0
        while (i < n) {
          px(i) = (((docId * 2654435761L + i * 97L) % 256L) & 0xff).toByte
          i += 1
        }
        val png = Multimodal.pngEncode(w, h, ch, px,
          filterMode = -1, idatChunkLen = 512)
        Multimodal.decodePng(png) match {
          case Some(r) =>
            var sum = 0L; var mn = 255; var mx = 0
            var j = 0
            while (j < r.pixels.length) {
              val v = r.pixels(j) & 0xff
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              j += 1
            }
            (r.width, r.height, r.channels, sum, mn, mx)
          case None => (-1, -1, -1, -1L, -1, -1)
        }
      })
      base.withColumn("__r", u(col("doc_id"), col("n_chars")))
        .select(col("doc_id"), col("__r._1").as("width"),
          col("__r._2").as("height"), col("__r._3").as("channels"),
          col("__r._4").as("px_sum"), col("__r._5").as("px_min"),
          col("__r._6").as("px_max"))
    }),

    // REAL WAV decode: deterministic int16 PCM fixture → canonical
    // RIFF/WAVE bytes → REAL decoder → integer-exact aggregates (sum,
    // sum-of-squares, zero crossings). decodeWav returns s/32768.0
    // (exact in binary FP), so round-tripping back to int16 is lossless
    // and the oracle replays pure integer arithmetic.
    "mm_audio_features" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val u = udf((docId: Long, nChars: Long) => {
        val ch = (docId % 2).toInt + 1
        val n = ((nChars % 500).toInt + 50) * ch
        val smp = new Array[Int](n)
        var i = 0
        while (i < n) {
          smp(i) = (((docId * 131L + i * 17L) % 65536L) - 32768L).toInt
          i += 1
        }
        val wav = Multimodal.wavEncodePcm16(16000, ch, smp)
        Multimodal.decodeWav(wav) match {
          case Some(p) =>
            var sum = 0L; var sq = 0L; var zc = 0L
            var j = 0
            while (j < p.samples.length) {
              val v = math.round(p.samples(j) * 32768.0)
              sum += v; sq += v * v
              if (j >= p.channels &&
                  (v >= 0) != (math.round(p.samples(j - p.channels) * 32768.0) >= 0))
                zc += 1
              j += 1
            }
            (p.sampleRate, p.channels, p.samples.length, sum, sq, zc)
          case None => (-1, -1, -1, -1L, -1L, -1L)
        }
      })
      base.withColumn("__r", u(col("doc_id"), col("n_chars")))
        .select(col("doc_id"), col("__r._1").as("sample_rate"),
          col("__r._2").as("channels"), col("__r._3").as("n_samples"),
          col("__r._4").as("s_sum"), col("__r._5").as("s_sumsq"),
          col("__r._6").as("zero_cross"))
    }),

    // REAL video frame extraction: deterministic 4:2:0 frames → spec-valid
    // YUV4MPEG2 stream → REAL container decode → per-sampled-frame plane
    // aggregates. As with the PNG/WAV twins, the oracle replays only the
    // frame-generation arithmetic; a hash match proves the container
    // roundtrip reconstructs every plane byte.
    "mm_video_frames" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val mk = udf((docId: Long, nChars: Long) => {
        val w = 2 * ((nChars % 8).toInt + 2)
        val h = 2 * (((nChars / 8) % 6).toInt + 2)
        val nf = (docId % 5).toInt + 2
        val fb = w * h * 3 / 2
        val frames = (0 until nf).map { f =>
          val buf = new Array[Byte](fb)
          var i = 0
          while (i < fb) {
            buf(i) = (((docId * 97L + f * 13L + i * 31L) % 256L) & 0xff).toByte
            i += 1
          }
          buf
        }
        Multimodal.y4mEncode(w, h, "C420", frames)
      })
      Multimodal.extractFrames(
        base.withColumn("video", mk(col("doc_id"), col("n_chars"))),
        "video", stride = 2)
    }),

    // Audio activity segmentation over WAV fixtures with real silence
    // structure (512-sample silent spans every third span): per-frame
    // mean-square energy, active flag, alternating segment numbering.
    // int16 energies are exact dyadic rationals — bit-replayable.
    "mm_audio_segments" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val mk = udf((docId: Long, nChars: Long) => {
        val ch = (docId % 2).toInt + 1
        val n = ((nChars % 400).toInt + 200) * ch
        val smp = new Array[Int](n)
        var i = 0
        while (i < n) {
          smp(i) = if ((i / 512) % 3 == 0) 0
            else ((docId * 131 + i * 17) % 65536 - 32768).toInt
          i += 1
        }
        Multimodal.wavEncodePcm16(16000, ch, smp)
      })
      Multimodal.audioSegments(
        base.withColumn("audio", mk(col("doc_id"), col("n_chars"))),
        "audio", energyThreshold = 0.1)
        .select(col("doc_id"), col("frame_index"), col("energy"),
          col("is_active"), col("segment_id"))
    }),

    // Scene-change detection (cut detection by luma-mean delta) over
    // Y4M fixtures built with real scene structure: the luma level
    // steps by 96 every 3 frames, so boundaries are detectable at
    // threshold 48 while in-scene noise (a mod-128 texture) is not.
    // The oracle replays frame means from the formula + the lag window.
    "mm_scene_changes" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val mk = udf((docId: Long, nChars: Long) => {
        val w = 2 * ((nChars % 8).toInt + 2)
        val h = 2 * (((nChars / 8) % 6).toInt + 2)
        val nf = (docId % 4).toInt * 3 + 6
        val fb = w * h * 3 / 2
        val frames = (0 until nf).map { f =>
          val level = if ((f / 3) % 2 == 0) 0 else 96
          val buf = new Array[Byte](fb)
          var i = 0
          while (i < fb) {
            buf(i) = ((level +
              (docId * 97L + f * 13L + i * 31L) % 128L) & 0xff).toByte
            i += 1
          }
          buf
        }
        Multimodal.y4mEncode(w, h, "C420", frames)
      })
      Multimodal.sceneChanges(
        base.withColumn("video", mk(col("doc_id"), col("n_chars"))),
        "video", threshold = 48.0)
        .select(col("doc_id"), col("frame_index"), col("y_mean"),
          col("delta"), col("is_scene_change"))
    }),

    // REAL raster resize on the decode path: formula pixels → PNG encode
    // → REAL decode → box half-downsample (truncating integer block
    // mean) → PNG re-encode → decode again → stats; plus a non-integer
    // nearest-neighbor leg pinning the floor(out·src/out_dim) index map.
    // The oracle replays the box/nearest arithmetic from the pixel
    // formula — wrong decode, resize, or re-encode all break the hash.
    "mm_resize" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val u = udf((docId: Long, nChars: Long) => {
        val w = 2 * ((nChars % 12).toInt + 2)
        val h = 2 * (((nChars / 24) % 12).toInt + 2)
        val ch = (docId % 3).toInt + 1
        val px = new Array[Byte](w * h * ch)
        var i = 0
        while (i < px.length) {
          px(i) = (((docId * 2654435761L + i * 97L) % 256L) & 0xff).toByte
          i += 1
        }
        val r0 = Multimodal.decodePng(
          Multimodal.pngEncode(w, h, ch, px, filterMode = -1,
            idatChunkLen = 512)).get
        val half = Multimodal.resizeRaster(r0, w / 2, h / 2, "box")
        // re-encode + decode the resized raster: pins the encode leg too
        val r2 = Multimodal.decodePng(Multimodal.pngEncode(
          half.width, half.height, half.channels, half.pixels)).get
        var sum = 0L; var mn = 255; var mx = 0
        var j = 0
        while (j < r2.pixels.length) {
          val v = r2.pixels(j) & 0xff
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
          j += 1
        }
        val nn = Multimodal.resizeRaster(r0, w / 2 + 1, h / 2 + 1, "nearest")
        var nnSum = 0L
        j = 0
        while (j < nn.pixels.length) { nnSum += nn.pixels(j) & 0xff; j += 1 }
        (w, h, ch, r2.width, r2.height, sum, mn, mx,
          nn.width, nn.height, nnSum)
      })
      base.withColumn("__r", u(col("doc_id"), col("n_chars")))
        .select(col("doc_id"), col("__r._1").as("width"),
          col("__r._2").as("height"), col("__r._3").as("channels"),
          col("__r._4").as("half_w"), col("__r._5").as("half_h"),
          col("__r._6").as("box_sum"), col("__r._7").as("box_min"),
          col("__r._8").as("box_max"), col("__r._9").as("nn_w"),
          col("__r._10").as("nn_h"), col("__r._11").as("nn_sum"))
    }),

    // REAL baseline-JPEG decode (ITU T.81): DC-only quantized
    // coefficients (entropy coding is LOSSLESS over them) → spec-valid
    // JFIF via our encoder (Annex K tables, differential DC, EOB runs)
    // → our REAL decoder (marker walk, Huffman, dequant, integer IDCT,
    // 4:2:0 replication upsample, integer YCbCr→RGB). A DC-only block
    // decodes to clamp(((dc·q + 4) >> 3) + 128), so the oracle is pure
    // integer arithmetic; the full AC path is cross-validated against
    // the JDK's independent ImageIO codec in JpegCodecSpec.
    "mm_jpeg_features" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val u = udf((docId: Long, nChars: Long) => {
        val w = (nChars % 40).toInt + 9
        val h = ((nChars / 40) % 40).toInt + 9
        val gray = docId % 2 == 0
        def dc(c: Int, by: Int, bx: Int): Int =
          (((docId * 31L + c * 7L + by * 5L + bx * 3L) % 111L) - 55L).toInt
        def grid(c: Int, nbx: Int, nby: Int): Array[Array[Int]] =
          Array.tabulate(nby * nbx) { i =>
            val blk = new Array[Int](64)
            blk(0) = dc(c, i / nbx, i % nbx); blk
          }
        val jpg =
          if (gray) {
            val nbx = (w + 7) / 8; val nby = (h + 7) / 8
            Jpeg.encodeFromCoeffs(w, h, Seq(grid(0, nbx, nby)), Seq((1, 1)))
          } else {
            val mx = (w + 15) / 16; val my = (h + 15) / 16
            Jpeg.encodeFromCoeffs(w, h,
              Seq(grid(0, 2 * mx, 2 * my), grid(1, mx, my), grid(2, mx, my)),
              Seq((2, 2), (1, 1), (1, 1)))
          }
        Jpeg.decode(jpg) match {
          case Some(r) =>
            var sum = 0L; var mn = 255; var mxv = 0
            var i = 0
            while (i < r.pixels.length) {
              val v = r.pixels(i) & 0xff
              sum += v; if (v < mn) mn = v; if (v > mxv) mxv = v
              i += 1
            }
            (r.width, r.height, r.channels, sum, mn, mxv)
          case None => (-1, -1, -1, -1L, -1, -1)
        }
      })
      base.withColumn("__r", u(col("doc_id"), col("n_chars")))
        .select(col("doc_id"), col("__r._1").as("width"),
          col("__r._2").as("height"), col("__r._3").as("channels"),
          col("__r._4").as("px_sum"), col("__r._5").as("px_min"),
          col("__r._6").as("px_max"))
    }),

    // Multimodal CURATION FUNNEL — the showcase composition: a mixed
    // corpus (real PNG / real DC-only JPEG / real WAV / opaque bytes)
    // flows through decode-classify → quality stats → keep/drop in ONE
    // narrow partition-parallel pass (no shuffle until the consumer
    // aggregates). Keep rules read REAL decoded values: images need
    // dynamic range ≥ 32 over ≥ 64 pixels; audio needs ≥ 100 samples
    // with ≥ 10 zero crossings; undecodable payloads drop. The oracle
    // replays every branch arithmetically.
    "mm_curation_funnel" -> ((s, dir) => {
      val base = IO.documents(s, dir).select(col("doc_id"), col("n_chars"),
        col("text"))
      val mk = udf((docId: Long, nChars: Long, text: String) => {
        (docId % 4) match {
          case 0 =>
            val w = (nChars % 16).toInt + 2; val h = ((nChars / 16) % 16).toInt + 2
            val px = Array.tabulate(w * h)(i =>
              (((docId * 2654435761L + i * 97L) % 256L) & 0xff).toByte)
            Multimodal.pngEncode(w, h, 1, px, filterMode = -1)
          case 1 =>
            val w = (nChars % 24).toInt + 9; val h = ((nChars / 24) % 24).toInt + 9
            val nbx = (w + 7) / 8; val nby = (h + 7) / 8
            val grid = Array.tabulate(nby * nbx) { i =>
              val b = new Array[Int](64)
              b(0) = (((docId * 31L + (i / nbx) * 5L + (i % nbx) * 3L) % 111L) - 55L).toInt
              b
            }
            Jpeg.encodeFromCoeffs(w, h, Seq(grid), Seq((1, 1)))
          case 2 =>
            // step 7919 (prime ≈ 65536/8.3): the sawtooth crosses zero
            // every ~8 samples, so zero-cross counts scale with n and
            // the keep rule actually discriminates
            val n = (nChars % 300).toInt + 40
            Multimodal.wavEncodePcm16(16000, 1, Array.tabulate(n)(i =>
              (((docId * 131L + i * 7919L) % 65536L) - 32768L).toInt))
          case _ =>
            if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
        }
      })
      Multimodal.mediaFunnel(
        base.withColumn("payload", mk(col("doc_id"), col("n_chars"), col("text"))),
        "payload")
        .select(col("doc_id"), col("media_type"), col("n_units"),
          col("stat"), col("keep"))
    }),
  )

  /** Persistence forecast with synthetic quantile bands — shared input for
    * the calibration/CRPS queries. */
  /** Deterministic 3-way labeling for the oracle-checked cluster-metric
    * queries: cluster = user_id mod 3. */
  private def mod3Labels(ev: DataFrame): DataFrame =
    ev.select(col("user_id")).distinct()
      .withColumn("cluster", pmod(col("user_id"), lit(3)).cast("int"))

  /** Hierarchy edges total → g{0,1,2} → user for the reconcile queries.
    * Derived from the scalar user-id bound (testdata ids are dense
    * 0..n−1) — NOT a `distinct().collect()` over the fact table: at 10⁷
    * series that id collect is a full driver transfer per query, while a
    * single-row max() aggregate is the sanctioned scalar fetch. At
    * production scale the edge list comes from a dimension table;
    * hierarchy is metadata, the fact scan must not define it.
    * @param maxUsers optional bottom-level cap (subset hierarchies for
    *   oracle-tractable covariance reconciliation). */
  private def userEdges(s: SparkSession, dir: String,
      maxUsers: Option[Long] = None): Seq[(String, String)] = {
    val n0 = IO.events(s, dir).agg(max("user_id")).head().getLong(0) + 1
    val n = maxUsers.fold(n0)(math.min(_, n0))
    Seq("g0", "g1", "g2").map(g => ("total", g)) ++
      (0L until n).map(u => (s"g${u % 3}", u.toString))
  }

  /** Flat total → user edges (for top-down). Same scalar derivation. */
  private def flatUserEdges(s: SparkSession, dir: String): Seq[(String, String)] = {
    val n = IO.events(s, dir).agg(max("user_id")).head().getLong(0) + 1
    (0L until n).map(u => ("total", u.toString))
  }

  /** PERMBU reconciliation body shared by the oracled-subset and full
    * `_e2e` queries: naive base forecasts, bottom-up aggregation, then
    * MinTrace weighted by persistence residuals of daily node history. */
  private def reconcilePermbu(s: SparkSession, dir: String,
      maxUsers: Option[Long]): DataFrame = {
    val ev0 = IO.events(s, dir)
    val ev = maxUsers.fold(ev0)(n => ev0.filter(col("user_id") < n))
    val edges = userEdges(s, dir, maxUsers)
    val hpc: PanelCols = PanelCols(id = "unique_id", time = "ts")
    val base = ForecastBaselines.naive(ev, 7)(PC)
      .select(col("user_id").cast("string").as("unique_id"), col("ts"), col("y_hat"))
    val all = Reconciliation.bottomUp(base, edges)(hpc)
    // persistence residuals of daily per-node history
    val daily = ev.groupBy(col("user_id").cast("string").as("unique_id"),
      date_trunc("day", col("ts")).as("ts")).agg(sum("value").as("y_hat"))
    val nodeHist = Reconciliation.bottomUp(daily, edges)(hpc)
    val resid = nodeHist.withColumn("residual",
      col("y_hat") - lag(col("y_hat"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("unique_id"))
          .orderBy(col("ts"))))
      .filter(col("residual").isNotNull)
      .select(col("unique_id"), col("ts"), col("residual"))
    Reconciliation.permbu(all, edges, resid)(hpc)
      .select(col("unique_id"), col("ts"), r6n(col("y_hat")).as("y_hat"))
  }

  /** MinT-CV reconciliation body shared by the oracled-subset and full
    * `_e2e` queries. */
  private def reconcileMintCv(s: SparkSession, dir: String,
      maxUsers: Option[Long]): DataFrame = {
    val ev0 = IO.events(s, dir)
    val ev = maxUsers.fold(ev0)(n => ev0.filter(col("user_id") < n))
    val edges = userEdges(s, dir, maxUsers)
    val hpc: PanelCols = PanelCols(id = "unique_id", time = "ts", target = "y_hat")
    val base = ForecastBaselines.naive(ev, 7)(PC)
      .select(col("user_id").cast("string").as("unique_id"), col("ts"), col("y_hat"))
    val all = Reconciliation.bottomUp(base, edges)(hpc)
    val daily = ev.groupBy(col("user_id").cast("string").as("unique_id"),
      date_trunc("day", col("ts")).as("ts")).agg(sum("value").as("y_hat"))
    val nodeHist = Reconciliation.bottomUp(daily, edges)(hpc)
    Reconciliation.minTraceCv(all, edges, nodeHist, nFolds = 3)(hpc)
      .select(col("unique_id"), col("ts"), r6n(col("y_hat")).as("y_hat"))
  }

  /** Oracle-checked pairwise elastic distance: 60-series subset (so the
    * DuckDB nested-fold DP replay stays ~6 s per metric at sf0.01) and
    * the shared 6-dp tie-nudged rounding on both engines. */
  private def pairwiseOracle(s: SparkSession, dir: String, metric: String): DataFrame =
    Distances.pairwise(
      IO.events(s, dir).filter(expr(ElasticOracle.SeriesFilter)), metric)
      .select(col("id_1"), col("id_2"), r6n(col(metric)).as(metric))

  private def persistenceQuantiles(s: SparkSession, dir: String): DataFrame =
    IO.events(s, dir)
      .withColumn("y_hat", lag(col("value"), 1).over(PC.w))
      .filter(col("y_hat").isNotNull)
      .withColumn("q_10", col("y_hat") * 0.9)
      .withColumn("q_50", col("y_hat"))
      .withColumn("q_90", col("y_hat") * 1.1)

  /** Deterministic synthetic nulls so imputation has something to fill
    * (the events table has no missing values). */
  private def withSynthNulls(df: DataFrame): DataFrame =
    df.withColumn("value", when(pmod(col("event_id"), lit(7)) === 0, lit(null))
      .otherwise(col("value")))

  private val synthNullSql =
    "CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END"

  /** Deterministic PII-shaped augmentation (every 3rd doc gets an email,
    * a dotted-quad IP, and an ddd-ddd-dddd phone derived from doc_id);
    * `synthPiiSql` plants the identical strings in DuckDB. */
  private def withSynthPii(df: DataFrame): DataFrame =
    df.withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".0."),
          pmod(col("doc_id"), lit(100)).cast("string"), lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(col("text")))

  private val synthPiiSql =
    """CASE WHEN doc_id % 3 = 0 THEN text
      | || ' contact user' || doc_id::VARCHAR || '@example.com or 10.'
      | || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR
      | || ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
      | || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |ELSE text END""".stripMargin.replace("\n", "")

  /** Deterministic multi-line augmentation so the C4 line filters have
    * line structure to grade: every 4th doc gains a good sentence, a
    * bullet, a short line, and an ellipsis line; every 5th a brace line. */
  private def withSynthLines(df: DataFrame): DataFrame =
    df.withColumn("text",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\nThis line ends with terminal punctuation.\n- a bullet item\nshort\nit trails off..."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\n{ a brace block }")).otherwise(lit(""))))

  private val synthLineSql =
    """text
      | || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||
      |   'This line ends with terminal punctuation.' || chr(10) ||
      |   '- a bullet item' || chr(10) || 'short' || chr(10) ||
      |   'it trails off...' ELSE '' END
      | || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '{ a brace block }'
      |   ELSE '' END""".stripMargin.replace("\n", "")

  // ── oracle-SQL building blocks ────────────────────────────────────────
  // FNV-1a 64-bit over token chars with HUGEINT wrap-around arithmetic —
  // mirrors TextOps.fnv64 (Long multiply wraps mod 2^64) bit-for-bit, then
  // the per-bit sign votes and signature assembly of Dedup.simhash.
  private def simhashOracleCtes(corpus: String): String =
    s"""toks AS (SELECT doc_id,
       |  unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM $corpus),
       |th AS (SELECT doc_id, list_reduce(
       |  list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(list_filter(split(tok, ''), ch -> ch <> ''),
       |      ch -> unicode(ch)::HUGEINT)),
       |  (acc, ch) -> (xor(acc, ch) * 1099511628211::HUGEINT)
       |    % 18446744073709551616::HUGEINT) AS hu FROM toks),
       |hs AS (SELECT doc_id, (CASE WHEN hu >= 9223372036854775808::HUGEINT
       |  THEN hu - 18446744073709551616::HUGEINT ELSE hu END)::BIGINT AS h FROM th),
       |votes AS (SELECT doc_id, bs.b,
       |  sum(CASE WHEN ((h >> bs.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs
       |  GROUP BY doc_id, bs.b),
       |sig AS (SELECT doc_id, bit_or(CASE WHEN v > 0 THEN
       |    (CASE WHEN b = 63 THEN (-9223372036854775807 - 1)
       |     ELSE (1::BIGINT << b::INT) END) ELSE 0 END) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  /** Cofactor-expansion determinant as a SQL expression over entry names —
    * lets the oracle solve small normal-equation systems via Cramer's rule
    * (the Spark side uses an LU solve; agreement is to float precision,
    * within the round-6 + nudge tolerance). */
  private def detSql(m: Array[Array[String]]): String =
    if (m.length == 1) m(0)(0)
    else (0 until m.length).map { j =>
      val minor = Array.tabulate(m.length - 1, m.length - 1)(
        (r, c) => m(r + 1)(if (c < j) c else c + 1))
      val sign = if (j % 2 == 0) "" else "-"
      s"$sign ${m(0)(j)} * (${detSql(minor)})"
    }.mkString(" + ").replace("+ -", "- ")

  /** The curationMetrics replay CTE chain (quality → language → PII →
    * repetition) over an input CTE `a(doc_id, text)` — shared by the
    * funnel and report-card oracles so the metric replay cannot drift. */
  private def curationMetricCtesSql: String =
    s"""q AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
       |  length(text) AS n,
       |  length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct,
       |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
       |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS uppers
       |  FROM a),
       |qs AS (SELECT doc_id, greatest(0.0, least(1.0, 1.0
       |  - CASE WHEN toks < 5 THEN 0.5 ELSE 0.0 END
       |  - CASE WHEN n > 0 AND punct::DOUBLE / n > 0.3 THEN 0.3 ELSE 0.0 END
       |  - CASE WHEN n > 0 AND digits::DOUBLE / n > 0.3 THEN 0.2 ELSE 0.0 END
       |  - CASE WHEN n > 0 AND uppers::DOUBLE / n > 0.3 THEN 0.2 ELSE 0.0 END))
       |  AS quality_score FROM q),
       |lw AS (SELECT doc_id,
       |  unnest(string_split_regex(lower(text), '[^\\p{L}]+')) AS wd FROM a),
       |lh AS (SELECT doc_id,
       |  count(*) FILTER (WHERE wd IN ('the','and','of','to','is','that','with'))::INT AS en,
       |  count(*) FILTER (WHERE wd IN ('der','die','und','das','nicht','ist','ein'))::INT AS de,
       |  count(*) FILTER (WHERE wd IN ('le','la','les','et','est','une','que'))::INT AS fr,
       |  count(*) FILTER (WHERE wd IN ('el','los','las','es','una','que','para'))::INT AS es
       |  FROM lw GROUP BY doc_id),
       |lb AS (SELECT doc_id, list_sort([
       |    struct_pack(h := de, l := 'de'), struct_pack(h := en, l := 'en'),
       |    struct_pack(h := es, l := 'es'), struct_pack(h := fr, l := 'fr')])[4] AS m
       |  FROM lh),
       |lang AS (SELECT a.doc_id,
       |  CASE WHEN m.h > 0 THEN m.l ELSE 'und' END AS lang_pred
       |  FROM a LEFT JOIN lb ON lb.doc_id = a.doc_id),
       |pii AS (SELECT doc_id,
       |  len(regexp_extract_all(text, '${TextOps.emailRegex}'))
       |  + len(regexp_extract_all(text, '${TextOps.ipv4Regex}'))
       |  + len(regexp_extract_all(text, '${TextOps.phoneRegex}')) > 0 AS pii_flag
       |  FROM a),
       |rl AS (SELECT doc_id,
       |  list_filter(list_transform(split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
       |  FROM a),
       |rlc AS (SELECT doc_id, len(lines) AS nl, len(list_distinct(lines)) AS nd FROM rl),
       |w AS (SELECT doc_id,
       |  list_filter(split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    x -> x <> '') AS words FROM a),
       |tc AS (SELECT doc_id, list_sum(list_transform(words, x -> len(x))) AS tot FROM w),
       |t2 AS (SELECT doc_id, max(c * chars) AS best FROM (
       |  SELECT doc_id, gram, count(*) AS c, len(gram) - 1 AS chars FROM (
       |    SELECT doc_id, words[i::INT] || ' ' || words[(i + 1)::INT] AS gram
       |    FROM w, unnest(generate_series(1, greatest(len(words) - 1, 0))) AS t(i))
       |  GROUP BY doc_id, gram) GROUP BY doc_id),
       |rep AS (SELECT rlc.doc_id,
       |  CASE WHEN nl > 0 THEN 1.0 - nd::DOUBLE / nl ELSE 0.0 END AS dup_line_frac,
       |  CASE WHEN tc.tot > 0 THEN coalesce(t2.best, 0)::DOUBLE / tc.tot ELSE 0.0 END
       |    AS top2gram_char_frac
       |  FROM rlc JOIN tc ON tc.doc_id = rlc.doc_id
       |  LEFT JOIN t2 ON t2.doc_id = rlc.doc_id)""".stripMargin

  /** Inline DuckDB expression: signed FNV-1a 64-bit of a VARCHAR
    * expression (mirrors TextOps.fnvHash via HUGEINT wrap arithmetic). */
  private def fnvSql(expr: String): String =
    s"""(SELECT (CASE WHEN hu >= 9223372036854775808::HUGEINT
       | THEN hu - 18446744073709551616::HUGEINT ELSE hu END)::BIGINT
       | FROM (SELECT list_reduce(
       |  list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(list_filter(split($expr, ''), ch -> ch <> ''),
       |      ch -> unicode(ch)::HUGEINT)),
       |  (acc, ch) -> (xor(acc, ch) * 1099511628211::HUGEINT)
       |    % 18446744073709551616::HUGEINT) AS hu))""".stripMargin.replace("\n", "")

  // Unsigned FNV-1a 64 as HUGEINT + the (h >>> 11)/2^53 uniform — the
  // Sampling.stableUniform replay (same construction as the EnbPI
  // bootstrap weights).
  private def fnvUSql(expr: String): String =
    s"""(SELECT list_reduce(
       |  list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(list_filter(split($expr, ''), ch -> ch <> ''),
       |      ch -> unicode(ch)::HUGEINT)),
       |  (acc, ch) -> (xor(acc, ch) * 1099511628211::HUGEINT)
       |    % 18446744073709551616::HUGEINT))""".stripMargin.replace("\n", "")

  /** Sampling.stableUniform replay: FNV-1a then the murmur3 fmix64
    * finalizer in HUGEINT arithmetic. A 64×64 wrap-multiply overflows
    * signed INT128, so each ·C % 2⁶⁴ splits into 32-bit limbs:
    * h·C ≡ h·cL + ((h·cH) mod 2³²)·2³² (mod 2⁶⁴) — both partial
    * products stay under 2⁹⁶. (>>33 = //2³³ on the unsigned value.) */
  private def uniformSql(idExpr: String): String = {
    val m = "18446744073709551616::HUGEINT"
    def wrapMul(h: String, cH: Long, cL: Long) =
      s"((($h) * $cL::HUGEINT) % $m + ((($h) * $cH::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $m"
    s"""(SELECT (h5 // 2048)::DOUBLE / 9007199254740992.0 FROM (
       |  SELECT xor(h4, h4 // 8589934592) AS h5 FROM (
       |  SELECT ${wrapMul("xor(h2, h2 // 8589934592)", 3301882366L, 444984403L)} AS h4 FROM (
       |  SELECT ${wrapMul("xor(h0, h0 // 8589934592)", 4283543511L, 3981806797L)} AS h2 FROM (
       |  SELECT ${fnvUSql(s"'42:' || ($idExpr)")} AS h0)))))"""
      .stripMargin.replace("\n", "")
  }

  /** Deterministic "lined" corpus for the line-dedup query: text rebuilt
    * as 8-word chunk lines, with two boilerplate lines injected into the
    * doc_id%3 and doc_id%4 slices (the synthetic docs carry no newlines
    * of their own). Mirrored exactly by [[linedDocsSql]]. */
  private[graft] def linedDocs(docs: DataFrame): DataFrame = {
    // bind the words array to a real column BEFORE the chunk lambda —
    // a captured expression re-evaluates (re-splits the text) inside
    // every lambda element (the wordGrams O(n²) lesson)
    val ws = col("__ws")
    val lastChunk = greatest(
      floor((size(ws) - 1) / lit(8.0)).cast("int"), lit(0))
    val chunks = transform(sequence(lit(0), lastChunk),
      c => array_join(slice(ws, c * 8 + 1, lit(8)), " "))
    docs
      .withColumn("__ws", filter(split(col("text"), "\\s+"), w => w =!= ""))
      .withColumn("text", concat_ws("\n",
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("subscribe to our newsletter today")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("all rights reserved worldwide")),
        array_join(chunks, "\n")))
      .drop("__ws")
  }

  /** DuckDB twin of [[linedDocs]] — a `lined(doc_id, text)` CTE body. */
  private def linedDocsSql: String =
    s"""ws0 AS (SELECT doc_id,
       |  list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws
       |  FROM documents),
       |lined AS (SELECT doc_id, concat_ws(chr(10),
       |  CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
       |  CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved worldwide' END,
       |  array_to_string(list_transform(
       |    generate_series(0, greatest(floor((len(ws) - 1) / 8.0)::INT, 0)),
       |    c -> array_to_string(ws[(c * 8 + 1)::INT:(c * 8 + 8)::INT], ' ')),
       |    chr(10))) AS text FROM ws0)""".stripMargin

  /** Deterministic HTML'd corpus for the markup-extraction query (the
    * synthetic docs carry no markup of their own): each doc becomes a
    * page — head words as `<h1>`, the rest in `<p>`, plus a script block
    * (doc_id%3, containing a raw `<` and `&&`), a style block (%4), a
    * comment (%5), and an entity-bearing boilerplate paragraph on every
    * doc. Mirrored exactly by [[htmlDocsSql]]. */
  private[graft] def htmlDocs(docs: DataFrame): DataFrame = {
    val ws = col("__ws")
    docs
      .withColumn("__ws", filter(split(col("text"), "\\s+"), w => w =!= ""))
      .withColumn("text", concat(
        lit("<html><body>"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<script type=\"text/javascript\">var a = 1 < 2 && b;</script>"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<style>.main { width: 50%; }</style>")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("<!-- rendered by pagegen 2.1 -->")).otherwise(lit("")),
        lit("<h1>"), array_join(slice(ws, 1, 4), " "),
        lit("</h1>\n<div class=\"content\"><p>"),
        array_join(slice(ws, lit(5), greatest(size(ws) - 4, lit(0))), " "),
        lit("</p><p>Tom &amp; Jerry &lt;3 &quot;cats&quot; " +
          "&#39;dogs&#39;&nbsp;forever</p><br/></div>"),
        lit("</body></html>")))
      .drop("__ws")
  }

  /** DuckDB twin of [[htmlDocs]] — an `html(doc_id, text)` CTE body.
    * NOTE: this pre-stripped fragment is interpolated into oracle
    * strings whose own `.stripMargin` runs AFTER interpolation, so no
    * line here may START with `|` (a leading `||` concat would lose a
    * pipe to the outer strip) — concatenation operators go at EOL. */
  private def htmlDocsSql: String =
    s"""hws AS (SELECT doc_id,
       |  list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws
       |  FROM documents),
       |html AS (SELECT doc_id, '<html><body>' ||
       |  CASE WHEN doc_id % 3 = 0 THEN
       |    '<script type="text/javascript">var a = 1 < 2 && b;</script>'
       |    ELSE '' END ||
       |  CASE WHEN doc_id % 4 = 0 THEN '<style>.main { width: 50%; }</style>'
       |    ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0 THEN '<!-- rendered by pagegen 2.1 -->'
       |    ELSE '' END ||
       |  '<h1>' || array_to_string(ws[1:4], ' ') ||
       |  '</h1>' || chr(10) || '<div class="content"><p>' ||
       |  array_to_string(ws[5:len(ws)], ' ') ||
       |  '</p><p>Tom &amp; Jerry &lt;3 &quot;cats&quot; ' ||
       |  '&#39;dogs&#39;&nbsp;forever</p><br/></div>' ||
       |  '</body></html>' AS text FROM hws)""".stripMargin

  // ── round-9 data-selection oracle builders ───────────────────────────
  // Hashed unigram+bigram gram rows over `documents`, mirroring
  // Selection.bucketed: ws → unigrams ∪ bigrams → FNV bucket in
  // [0, buckets). `t` = the DSIR target-slice flag (lang = 'en').
  private def dsirGramCtes(buckets: Int): String =
    s"""ws AS (SELECT doc_id, lang = 'en' AS t,
       |  list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
       |    w -> w <> '') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, t, unnest(ws) AS gram FROM ws
       |  UNION ALL
       |  SELECT doc_id, t, ws[i::INT] || ' ' || ws[(i + 1)::INT] AS gram
       |  FROM ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)),
       |gb AS (SELECT doc_id, t,
       |  (((${fnvSql("gram")}) % $buckets) + $buckets) % $buckets AS b
       |  FROM g)""".stripMargin

  // Laplace-smoothed target/raw bucket models + per-doc importance
  // log-weight sums (Selection.dsirWeights replay, no pinned state).
  private def dsirModelCtes(buckets: Int): String =
    s"""${dsirGramCtes(buckets)},
       |counts AS (SELECT b, count(*) AS cr,
       |  count(*) FILTER (WHERE t) AS ct FROM gb GROUP BY b),
       |tot AS (SELECT sum(cr)::DOUBLE AS tr, sum(ct)::DOUBLE AS tt FROM counts),
       |llr AS (SELECT b, ln((ct + 1.0) / (tt + $buckets)) -
       |  ln((cr + 1.0) / (tr + $buckets)) AS llr FROM counts, tot),
       |scored AS (SELECT doc_id, count(*)::BIGINT AS n_grams, sum(llr) AS lw
       |  FROM gb JOIN llr USING (b) GROUP BY doc_id)""".stripMargin

  /** doc_quality_classifier replay: pinned logistic weights inlined as a
    * VALUES table; the whole distributed scoring pass re-runs in SQL. */
  private def classifierScoreSql(m: Selection.TextClassifierModel): String = {
    def d(v: Double): String = "%.17e".format(v)
    val vals = m.weights.zipWithIndex
      .map { case (w, i) => s"($i, ${d(w)}::DOUBLE)" }.mkString(", ")
    s"""WITH wts(b, w) AS (VALUES $vals),
       |${dsirGramCtes(m.buckets)}
       |SELECT doc_id, count(*)::BIGINT AS n_grams,
       |  round(1.0 / (1.0 + exp(-(sum(w) / count(*) + ${d(m.bias)}::DOUBLE)))
       |    + 1e-9, 6) AS quality_prob
       |FROM gb JOIN wts USING (b) GROUP BY doc_id""".stripMargin
  }

  // Holt level/trend fold step (Ets.holt): state [level, trend], input [v, _].
  private val holtL = "0.3 * x[1] + (1.0::DOUBLE - 0.3) * (acc[1] + acc[2])"

  // Holt-Winters additive fold step (Ets.holtWinters): state
  // [level, trend, s1..s24], input [v, t] with t the 0-based time index.
  private val hwIdx = "((x[2]::INT % 24) + 3)"
  private val hwL =
    s"(0.3 * (x[1] - acc[$hwIdx]) + (1.0::DOUBLE - 0.3) * (acc[1] + acc[2]))"
  private val hwT = s"(0.1 * ($hwL - acc[1]) + (1.0::DOUBLE - 0.1) * acc[2])"
  private val hwS = s"(0.1 * (x[1] - $hwL) + (1.0::DOUBLE - 0.1) * acc[$hwIdx])"
  private val hwAcc =
    s"""list_concat(list_concat(list_concat([$hwL, $hwT],
       | acc[3:($hwIdx - 1)]), [$hwS]), acc[($hwIdx + 1):])""".stripMargin.replace("\n", "")

  // Streaming-ETS (Holt) fold step with per-row history: state
  // [level, trend, n, (level trend)×t], input [v, _, _]; init/two-point
  // cases mirror StreamingOps.etsBatch.
  private val setsL =
    """(CASE WHEN acc[3] < 2.0 THEN x[1]
      | ELSE 0.3 * x[1] + (1.0::DOUBLE - 0.3) * (acc[1] + acc[2]) END)"""
      .stripMargin.replace("\n", "")
  private val setsT =
    s"""(CASE WHEN acc[3] = 0.0 THEN 0.0::DOUBLE
       | WHEN acc[3] = 1.0 THEN x[1] - acc[1]
       | ELSE 0.1 * ($setsL - acc[1]) + (1.0::DOUBLE - 0.1) * acc[2] END)"""
      .stripMargin.replace("\n", "")
  private val setsAcc =
    s"list_concat(list_concat([$setsL, $setsT, acc[3] + 1.0], acc[4:]), [$setsL, $setsT])"

  // Kalman forward fold step (Kalman.filterSmooth, q=1e-3, r=1.0): state
  // [x, p, (xf pf xp pp)×t]; appends this step's records.
  private val kfPp = "(acc[2] + 0.001)"
  private val kfK = s"($kfPp / ($kfPp + 1.0))"
  private val kfX = s"(acc[1] + $kfK * (x[1] - acc[1]))"
  private val kfP = s"((1.0::DOUBLE - $kfK) * $kfPp)"
  private val kfAcc =
    s"list_concat(list_concat([$kfX, $kfP], acc[3:]), [$kfX, $kfP, acc[1], $kfPp])"

  /** Nested-fold DP replays of the elastic kernels (see ElasticOracle). */
  private val elasticOracles: Map[String, String] =
    Seq("dtw", "ddtw", "wdtw", "msm", "erp", "lcss", "twe", "sbd",
      "frechet", "edr", "dtw_multi", "msm_multi")
      .map(m => s"ts_pairwise_$m" -> ElasticOracle.sql(m)).toMap +
      ("ts_pairwise_itakura" -> ElasticOracle.sql("itakura", outCol = "dtw")) +
      ("ts_pairwise_sakoe" -> ElasticOracle.sql("sakoe", outCol = "dtw")) +
      ("ts_pairwise_fastdtw_sub" ->
        ElasticOracle.fastdtwSubSql(OraclePins.fastdtw)) +
      ("ts_pairwise_fastdtw_exact" -> ElasticOracle.sql("dtw"))

  // MinHash-LSH oracle body, shared by doc_minhash_lsh and the
  // doc_dedup_groups transitive-closure wrapper.
  private lazy val minhashLshOracleSql: String = {
    val k = 64; val bands = 16; val rpb = 4
    val (as, bs) = Dedup.minhashParams(k)
    val sigMins = (0 until k).map(i =>
      s"min((${as(i)} * h + ${bs(i)}) % 2147483647) AS s$i").mkString(",\n|  ")
    // band table: band index + packed pair keys (v·2³¹ + w)
    val bandSelect = (0 until bands).map { b =>
      val ks = (0 until rpb / 2).map(p =>
        s"s${b * rpb + 2 * p} * 2147483648 + s${b * rpb + 2 * p + 1} AS k${p + 1}")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sig"
    }.mkString("\n|  UNION ALL ")
    val eqCount = (0 until k).map(i =>
      s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000 AS doc_id,
       |    text || ' near duplicate suffix' AS text FROM documents),
       |norm AS (SELECT doc_id,
       |  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM corpus),
       |pos AS (SELECT doc_id, t,
       |  unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i FROM norm),
       |grams AS (SELECT doc_id, substr(t, i::INT, 5) AS gram FROM pos),
       |gh AS (SELECT DISTINCT doc_id,
       |  (CASE WHEN hu >= 9223372036854775808::HUGEINT
       |    THEN hu - 18446744073709551616::HUGEINT ELSE hu END)::BIGINT AS hs
       |  FROM (SELECT doc_id, list_reduce(
       |    list_prepend(14695981039346656037::HUGEINT,
       |      list_transform(list_filter(split(gram, ''), ch -> ch <> ''),
       |        ch -> unicode(ch)::HUGEINT)),
       |    (acc, ch) -> (xor(acc, ch) * 1099511628211::HUGEINT)
       |      % 18446744073709551616::HUGEINT) AS hu FROM grams)),
       |hm AS (SELECT doc_id, ((hs % 2147483647) + 2147483647) % 2147483647 AS h FROM gh),
       |hd AS (SELECT DISTINCT doc_id, h FROM hm),
       |sig AS (SELECT doc_id,
       |  $sigMins
       |FROM hd GROUP BY doc_id),
       |banded AS ($bandSelect),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.band = b.band
       |    AND a.k1 = b.k1 AND a.k2 = b.k2
       |    AND a.doc_id < b.doc_id),
       |est AS (SELECT c.id_a, c.id_b,
       |  ($eqCount)::DOUBLE / 64.0 AS jaccard_est
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= 0.5""".stripMargin
  }

  // Duplicate-groups oracle body (recursive closure over the minhash
  // pairs), shared by doc_dedup_groups and the incremental-slice filter.
  private lazy val dedupGroupsOracleSql: String =
    s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($minhashLshOracleSql) __mh),
       |und AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |reach AS (SELECT src, dst FROM und
       |  UNION SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS group_id
       |FROM reach GROUP BY src""".stripMargin

  // SimHash pairs oracle body, shared by doc_simhash_pairs and the
  // incremental-slice filter doc_simhash_incremental.
  private lazy val simhashPairsOracleSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' tail' AS text FROM documents),
       |${simhashOracleCtes("corpus")},
       |banded AS (SELECT doc_id, simhash, cs.c, (simhash >> (cs.c * 8)) & 255 AS cv
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS c) cs),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM banded a JOIN banded b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 7""".stripMargin

  /** One DuckDB truth for both matrix-profile plan shapes (monolithic
    * STOMP and the diagonal-block distributed path): the direct O(n²m)
    * pair-join definition at m = 8 over the 60-series subset. */
  private val MpSelfJoinOracle: String =
    """WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      |  FROM events WHERE user_id < 60 GROUP BY user_id),
      |w AS (SELECT user_id, vs, len(vs) - 7 AS nw FROM s WHERE len(vs) >= 12),
      |ix AS (SELECT user_id, vs,
      |    unnest(generate_series(1, nw))::INT AS i FROM w),
      |st AS (SELECT user_id, i, vs[i:i+7] AS wv,
      |    list_avg(vs[i:i+7]) AS mu,
      |    sqrt(greatest(
      |      list_inner_product(vs[i:i+7], vs[i:i+7]) / 8.0
      |        - list_avg(vs[i:i+7]) ^ 2, 0.0)) AS sd
      |  FROM ix),
      |pair AS (SELECT a.user_id, a.i, list_inner_product(a.wv, b.wv) AS qt,
      |    a.mu AS mui, a.sd AS sdi, b.mu AS muj, b.sd AS sdj
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND abs(a.i - b.i) >= 4),
      |dist AS (SELECT user_id, i,
      |    CASE WHEN sdi <= 0 AND sdj <= 0 THEN 0.0
      |         WHEN sdi <= 0 OR sdj <= 0 THEN 4.0
      |         ELSE sqrt(greatest(
      |           16.0 * (1.0 - (qt - 8.0 * mui * muj) / (8.0 * sdi * sdj)),
      |           0.0)) END AS d
      |  FROM pair)
      |SELECT user_id, (i - 1)::BIGINT AS idx, round(min(d) + 1e-9, 6) AS mp
      |FROM dist GROUP BY 1, 2""".stripMargin

  /** One DuckDB truth for both sessionize front doors (Scala API and
    * the graft_sessionize SQL TVF). */
  private val SessionizeOracle: String =
    """WITH o AS (SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |     s AS (SELECT user_id, ts, value,
      |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM o)
      |SELECT user_id, session_id, min(ts) AS session_start,
      |  max(ts) AS session_end, count(*) AS n_events,
      |  round(sum(value) + 1e-9, 6) AS sum_value
      |FROM s GROUP BY 1, 2""".stripMargin

  /** One DuckDB ASOF truth for all three backward-join front doors
    * (composed window form, native Scala API, SQL TVF). */
  private val AsofBackwardOracle: String =
    """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      |     r AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
      |           FROM events WHERE event_type = 'click')
      |SELECT l.user_id, l.event_id, l.ts, r.ts AS asof_ts, r.click_id, r.click_value
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  /** One DuckDB truth for both group_by_dynamic forms (Scala, SQL TVF):
    * window starts = every·k, membership start <= t < start + period →
    * k in [floor((t-period)/every)+1, floor(t/every)] (µs arithmetic). */
  private val GroupDynamicOracle: String =
    """WITH e AS (SELECT user_id, value, epoch_us(ts) AS tu FROM events),
      |k AS (SELECT user_id, value,
      |    unnest(generate_series((tu - 7200000000) // 1800000000 + 1,
      |                           tu // 1800000000)) AS kk FROM e)
      |SELECT user_id, make_timestamp(kk * 1800000000) AS ts,
      |  round(avg(value), 6) AS value, count(*) AS n_obs
      |FROM k GROUP BY 1, 2""".stripMargin

  /** One DuckDB truth for all three overlap-join shapes (bucketed
    * explosion, native two-sweep, SQL TVF). */
  private val OverlapJoinOracle: String =
    """WITH er AS (SELECT user_id, event_id AS error_id, ts AS es,
      |                   ts + INTERVAL 1 DAY AS ee
      |            FROM events WHERE event_type = 'error'),
      |     pu AS (SELECT user_id, event_id AS purchase_id, ts AS ps,
      |                   ts + INTERVAL 1 DAY AS pe
      |            FROM events WHERE event_type = 'purchase')
      |SELECT er.user_id, er.error_id, pu.purchase_id
      |FROM er JOIN pu ON er.user_id = pu.user_id
      |  AND er.es < pu.pe AND pu.ps < er.ee""".stripMargin

  /** One DuckDB truth for the two point-in-time forms (Scala fold of
    * native as-ofs, chained graft_pit_join TVF): two ASOF LEFT JOINs. */
  private val PitJoinOracle: String =
    """WITH sp AS (SELECT user_id, event_id, ts FROM events
      |            WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts, value AS click_value FROM events
      |           WHERE event_type = 'click'),
      |     er AS (SELECT user_id, ts, value AS error_value FROM events
      |            WHERE event_type = 'error'),
      |     s1 AS (SELECT sp.user_id, sp.event_id, sp.ts,
      |              c.ts AS asof_ts_0, c.click_value
      |            FROM sp ASOF LEFT JOIN c
      |              ON sp.user_id = c.user_id AND sp.ts >= c.ts)
      |SELECT s1.user_id, s1.event_id, s1.ts, s1.asof_ts_0, s1.click_value,
      |  er.ts AS asof_ts_1, er.error_value
      |FROM s1 ASOF LEFT JOIN er
      |  ON s1.user_id = er.user_id AND s1.ts >= er.ts""".stripMargin

  /** One DuckDB truth for all three range-join shapes (bucketed
    * explosion, native sweep, SQL TVF). */
  private val RangeJoinOracle: String =
    """WITH err AS (SELECT user_id, event_id AS error_id, ts AS w_start,
      |                    ts + INTERVAL 1 DAY AS w_end
      |             FROM events WHERE event_type = 'error'),
      |     clk AS (SELECT user_id, event_id AS click_id, ts
      |             FROM events WHERE event_type = 'click')
      |SELECT c.user_id, c.click_id, e.error_id
      |FROM clk c JOIN err e ON c.user_id = e.user_id
      |  AND c.ts >= e.w_start AND c.ts < e.w_end""".stripMargin

  def oracleSql: Map[String, String] = elasticOracles ++ Map(
    "ts_theta_fc" -> ForecastOracle.thetaSql,
    "ts_var_fc" -> ForecastOracle.varSql,
    "ts_damped_fc" -> ForecastOracle.dampedHoltSql,
    "ts_arma_fc" -> ForecastOracle.armaSql,
    "ts_auto_ets_fc" -> ForecastOracle.autoEtsSql,
    "ts_garch" -> ForecastOracle.garchSql,
    "ts_bvar_fc" -> ForecastOracle.bvarSql,
    // ts_quantile_fc stays rows-only: the pinball-IRLS weights
    // (|q-1{r<0}|/max(|r|, 1e-6)) amplify 1e-13 cross-engine sum
    // reordering into different fixpoints — verified non-replayable
    "ts_synthetic_control" -> ForecastOracle.syntheticControlSql,
    "ts_agglomerative" -> ForecastOracle.agglomerativeSql,
    "ts_gp_fc" -> ForecastOracle.gpSql,
    "ts_pelt" -> ForecastOracle.peltSql,
    "ts_pelt_pruned" -> ForecastOracle.peltSql,
    "ts_path_signature" -> ForecastOracle.pathSignatureSql,
    "ts_spectrogram" -> ForecastOracle.spectrogramSql,
    "ts_scalogram" -> ForecastOracle.scalogramSql,
    "ts_imaging_rqa" -> ForecastOracle.rqaSql,
    "ts_arima_fc" -> ForecastOracle.arimaSql,
    "ts_rocket" -> ForecastOracle.rocketSql,
    "ts_minirocket" -> ForecastOracle.miniRocketSql,
    "ts_silhouette_samples" -> ForecastOracle.silhouetteSamplesSql,
    "ts_knn_classify_dtw" -> ForecastOracle.knnClassifyDtwSql,
    "ts_inventory_plan" -> ForecastOracle.inventoryPlanSql,
    "ts_portfolio_weights" -> ForecastOracle.portfolioWeightsSql,
    "ts_ukf" -> ForecastOracle.ukfSql,
    "ts_enbpi" -> ForecastOracle.enbpiSql,
    "ts_enbpi_oob" -> ForecastOracle.enbpiOobSql,
    "ts_bocpd" -> ForecastOracle.bocpdSql,
    "ts_bocpd_pruned" -> ForecastOracle.bocpdSql,
    "ts_pipeline_boxcox_fc" -> ForecastOracle.pipelineBoxcoxSql,
    "ts_pipeline_fc" -> ForecastOracle.pipelineSql,
    "ts_kmedoids" -> ForecastOracle.kmedoidsSql,
    "ts_calinski" -> ForecastOracle.calinskiSql,
    "ts_cluster_eval" -> ForecastOracle.clusterEvalSql,
    // r12: full-panel DBSCAN via bounded min-label propagation (the
    // closure CTE of the subset oracle is super-linear in core count)
    "ts_dbscan_e2e" -> ForecastOracle.dbscanE2eSql(eps = 0.35, minPts = 3),
    "ts_granger" -> ForecastOracle.grangerSql,
    "ts_bayes_anomaly" -> DetOracles.bayesAnomalySql,
    "ts_enkf" -> StochOracle.enkfSql(q = 1e-3, r = 1.0, nEnsemble = 30, seed = 42L,
      seriesFilter = "user_id < 20"),
    // streaming twins (r12): the same per-row stepDet replay at the
    // twin queries' subsets
    "ts_streaming_enkf" -> StochOracle.enkfSql(q = 1e-3, r = 1.0,
      nEnsemble = 30, seed = 42L, seriesFilter = "user_id < 5"),
    "ts_streaming_pf" -> StochOracle.particleSql(nParticles = 200,
      sigmaLevel = 0.5, sigmaObs = 1.0, resampleThreshold = 0.5,
      seed = 42L, seriesFilter = "user_id < 3"),
    // registry round-trip: run = event_type, metric = panel mean value,
    // best = ascending-metric argmin (Registry.bestRun)
    "ts_registry" ->
      """WITH m AS (SELECT event_type AS run, avg(value) AS m
        |           FROM events GROUP BY 1)
        |SELECT run, round(m + 1e-9, 6) AS avg_value,
        |  m = (SELECT min(m) FROM m) AS is_best
        |FROM m""".stripMargin,
    "ts_particle" -> StochOracle.particleSql(nParticles = 200, sigmaLevel = 0.5,
      sigmaObs = 1.0, resampleThreshold = 0.5, seed = 42L,
      seriesFilter = "user_id < 6"),
    "ts_kshape_classify" -> DetOracles.kshapeClassifySql,
    "ts_mstl_features" -> DetOracles.mstlSql(Seq(12, 24), iterations = 2),
    "ts_mstl_decomp" -> DetOracles.mstlSql(Seq(12, 24), iterations = 2,
      rowLevel = true),
    "ts_mstl_grouped" -> DetOracles.mstlSql(Seq(12, 24), iterations = 2,
      rowLevel = true),
    "ts_causal_impact_ll" -> DetOracles.causalImpactLlSql,
    "ts_bsts_s4_fc" -> SeasonalKalmanOracle.bstsSeasonalFcSql(period = 4, h = 8),
    // period-24 smoother decomposition (r10): replayable now that the
    // engine smoother is the DK matrix-vector recursion — the RTS
    // gain's LAPACK pinv was the r9 blocker
    "ts_bsts_seasonal" -> SeasonalKalmanOracle.bstsSeasonalDecompSql(24),
    "ts_causal_impact_s4" -> SeasonalKalmanOracle.causalImpactSeasonalSql(period = 4),
    // period-24 production default (r10): the 25-dim filter replay was
    // always generatable; runtime was the only question, and it gates fine
    "ts_causal_impact" -> SeasonalKalmanOracle.causalImpactSeasonalSql(period = 24),
    "ts_bsts_fc" -> DetOracles.bstsFcSql(h = 7),
    "ts_bsts_decomp" -> DetOracles.bstsDecompSql,
    "emb_knn_lsh" -> AnnOracle.lshTopKSql(dim = 64, bits = 6, probes = 8, k = 3),
    "emb_near_dup" -> AnnOracle.nearDupSql(dim = 64, bits = 8, tables = 2,
      threshold = 0.9),
  ) ++
    // pin-dependent oracles (present only when Verify has computed pins —
    // these have no standalone NM/tree replay fallback)
    OraclePins.regime.map(p => "ts_regime" -> DetOracles.regimeSql(p)) ++
    OraclePins.iforest.map(p => "ts_iforest" -> DetOracles.iforestSql(p)) ++
    OraclePins.iforestFull.map(p =>
      "ts_iforest_e2e" -> DetOracles.iforestSql(p)) ++
    OraclePins.kmedoidsE2eInit.map(init =>
      "ts_kmedoids_e2e" -> ForecastOracle.kmedoidsE2eSql(init.toSeq)) ++
    OraclePins.kmedoidsE2eInit.map(init =>
      "ts_cluster_eval_e2e" -> ForecastOracle.clusterEvalPamSql(init.toSeq)) ++
    OraclePins.bvarMinnesota.map(v =>
      "ts_bvar_minnesota_fc" -> ForecastOracle.bvarMinnesotaSql(v)) ++
    OraclePins.ivfCenters.map(c =>
      "emb_knn_ivf" -> AnnOracle.ivfTopKSql(c, nprobe = 4, k = 3)) ++
    OraclePins.ivfCenters.map(c =>
      "emb_semdedup" -> AnnOracle.semDedupSql(c, threshold = 0.95)) ++
    OraclePins.ivfCenters.map(c => "emb_semdedup_incremental" ->
      s"""SELECT * FROM (${AnnOracle.semDedupSql(c, threshold = 0.95)}) __full
         |WHERE vec_id >= 100000""".stripMargin) ++
    (for { c <- OraclePins.ivfCenters; b <- OraclePins.ivfPq }
      yield "emb_knn_ivfpq" -> AnnOracle.ivfPqTopKSql(c, b, nprobe = 4, k = 3)) ++
    OraclePins.bpe.map(m => "doc_bpe_tokens" -> Bpe.tokensSql(m)) ++
    OraclePins.textClassifier.map(m =>
      "doc_quality_classifier" -> classifierScoreSql(m)) ++
    OraclePins.ivfCenters.map(c =>
      "emb_topic_assign" -> AnnOracle.topicAssignSql(c)) ++
    OraclePins.ivfCenters.map(c =>
      "emb_prototype_prune" -> AnnOracle.prototypePruneSql(c, keepFrac = 0.7)) ++
    OraclePins.ivfCenters.map(_ =>
      "emb_ivf_refit_audit" ->
        "SELECT 16::INT AS n_cells, 0.0::DOUBLE AS max_abs_diff") ++
    OraclePins.ivfCenters.map(c =>
      "emb_topic_sample" ->
        s"""SELECT vec_id, topic FROM (
           |  SELECT vec_id, topic, row_number() OVER (PARTITION BY topic
           |    ORDER BY ${uniformSql("vec_id::VARCHAR")}, vec_id) AS rk
           |  FROM (${AnnOracle.topicCellsSql(c)}))
           |WHERE rk <= 20""".stripMargin) ++
    OraclePins.pca.map(m => "emb_pca" -> AnnOracle.pcaProjectSql(m)) ++
    OraclePins.pca.map(m => "emb_pca_var" -> AnnOracle.pcaVarSql(m)) ++
    OraclePins.pq.map(cb => "emb_pq_codes" -> AnnOracle.pqCodesSql(cb)) ++
    OraclePins.pq.map(cb => "emb_knn_pq" -> AnnOracle.pqAdcTopKSql(cb, k = 3)) ++
    OraclePins.quantile.map(p =>
      "ts_quantile_fc" -> ForecastOracle.quantileFcSql(p)) ++
    OraclePins.autoArima.map(p =>
      "ts_auto_arima" -> ForecastOracle.autoArimaSqlPinned(p)) ++
    // full-panel e2e twins (r12): same pinned replay shape as their
    // NM-subset siblings, pins fitted over the whole panel
    OraclePins.armaFull.map(p =>
      "ts_arma_fc_e2e" -> ForecastOracle.armaE2eSql(p)) ++
    OraclePins.garchFull.map(p =>
      "ts_garch_e2e" -> ForecastOracle.garchE2eSql(p)) ++
    OraclePins.autoEtsFull.map(p =>
      "ts_auto_ets_fc_e2e" -> ForecastOracle.autoEtsE2eSql(p)) ++
    (for {
      a <- OraclePins.autoArima; e <- OraclePins.autoEtsFull; c <- OraclePins.ces
    } yield "ts_scum_fc" -> ForecastOracle.scumSqlPinned(a, e, c)) ++
    OraclePins.scientist.flatMap(w =>
      ForecastOracle.scientistSqlPinned(w).map("ts_scientist" -> _)) ++
    OraclePins.rocket.map { case (ml, cls, cf) =>
      "ts_rocket_classify" -> ForecastOracle.rocketClassifySql(ml, cls, cf) } ++
    OraclePins.dec.map(f => "ts_dec" -> NeuralOracle.clusterAssignSql(f)) ++
    OraclePins.decE2e.map(f =>
      "ts_dec_e2e" -> NeuralOracle.clusterAssignSql(f)) ++
    OraclePins.patchTstE2e.map(f =>
      "ts_patchtst_e2e" -> NeuralOracle.patchTstSql(f)) ++
    OraclePins.idec.map(f => "ts_idec" -> NeuralOracle.clusterAssignSql(f)) ++
    OraclePins.contrastive.map(f =>
      "ts_contrastive" -> NeuralOracle.clusterAssignSql(f)) ++
    OraclePins.resnetCls.map(f =>
      "ts_resnet_classify" -> NeuralOracle.classifySql(f)) ++
    OraclePins.inceptionCls.map(f =>
      "ts_inception_classify" -> NeuralOracle.classifySql(f)) ++
    OraclePins.nbeatsInterp.map(f =>
      "ts_nbeats_fc" -> NeuralOracle.nbeatsSql(f)) ++
    OraclePins.nbeatsGeneric.map(f =>
      "ts_nbeats_generic_fc" -> NeuralOracle.nbeatsSql(f)) ++
    OraclePins.patchTst.map(f =>
      "ts_patchtst_fc" -> NeuralOracle.patchTstSql(f)) ++
    OraclePins.timeLlm.map(f =>
      "ts_timellm_fc" -> NeuralOracle.timeLlmSql(f)) ++
    OraclePins.llmPs.map(f =>
      "ts_llmps_fc" -> NeuralOracle.llmPsSql(f)) ++
    // Chronos tokenization: closed-form arithmetic, no pins; the scale
    // is round-6 on both sides (summation-order ulps on the un-rounded
    // mean could flip a floor boundary — measure-zero after rounding)
    Map("ts_chronos_tokens" -> {
      val q = graft.ops.Foundation.ChronosCfg()
      val w = "%.17e".format(q.width)
      val lo = "%.17e".format(q.low)
      val hi = "%.17e".format(q.high)
      s"""WITH b AS (SELECT user_id, value,
         |    round(avg(abs(value)) OVER (PARTITION BY user_id), 6) AS m,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
         |  FROM events),
         |t AS (SELECT user_id, pos, value,
         |    CASE WHEN m > 0.0 THEN m ELSE 1.0 END AS scale FROM b),
         |tok AS (SELECT user_id, pos, scale,
         |    CASE WHEN value IS NULL THEN NULL ELSE
         |    least(${q.nBins - 1}, floor((least($hi, greatest($lo,
         |      value / scale)) - $lo) / $w))::INT END AS token_id FROM t)
         |SELECT user_id, pos, token_id, round(scale, 6) AS scale,
         |  round(($lo + (token_id + 0.5) * $w) * scale + 1e-9, 6) AS recon
         |FROM tok""".stripMargin
    }) ++
    // foundation-embedding adapters: closed-form replay of the full
    // tokenize→lookup→pool (chronos) and normalize→patchify→project→
    // softsign→pool (moment) chains — no pins, draws via uniformExpr
    Map(
      "ts_chronos_embed" -> {
        val q = graft.ops.Foundation.ChronosCfg()
        StochOracle.chronosEmbedSql(16, 7L, q.nBins, q.low, q.high)
      },
      "ts_moment_embed" -> StochOracle.momentEmbedSql(8, 8, 11L)) ++
    // Chronos sample-path forecaster: fully data-driven replay (token
    // CDFs + unrolled DetRng inverse-CDF steps), no pins
    Map("ts_chronos_fc" -> {
      val c = graft.ops.Foundation.ChronosForecastCfg(h = 6)
      StochOracle.chronosFcSql(c.h, c.numSamples, c.coverage,
        c.quant.nBins, c.quant.low, c.quant.high, c.seed,
        ForecastOracle.NmSubsetUsers)
    }) ++
    OraclePins.mvPatch.map { case (n, f) =>
      "ts_mvpatchtst_fc" -> NeuralOracle.mvTransformerSql(f, n) } ++
    OraclePins.iTrans.map { case (n, f) =>
      "ts_itransformer_fc" -> NeuralOracle.mvTransformerSql(f, n) } ++
    Map("ts_vision_embed" -> NeuralOracle.visionEmbedSql(
      ops.VisionEmbed.DefaultFilters, ops.VisionEmbed.DefaultEmbDim,
      ops.VisionEmbed.DefaultEps, 42L)) ++
    // ts_rl_rollout: the env's reward accumulation replayed in the same
    // fold order (0-seeded, step-ascending adds of −|actual − action|
    // with naive forecasts: action(idx) = v[idx−1])
    Map("ts_rl_rollout" ->
      """WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, (len(vs) - 10)::INT AS steps,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(11, len(vs)), i ->
        |      -abs(vs[i::INT] - vs[i::INT - 1]))), (a, b) -> a + b) + 1e-9, 6)
        |    AS total_reward
        |FROM s""".stripMargin) ++
    OraclePins.kshape.map { case (l, c) =>
      "ts_kshape" -> ClusterOracles.kshapeSql(l, c) } ++
    OraclePins.kmeansDba.map { case (l, c) =>
      "ts_kmeans_dba" -> ClusterOracles.kmeansDbaSql(l, c) } ++
    OraclePins.kasba.map { case (l, c) =>
      "ts_kasba" -> ClusterOracles.kasbaSql(l, c) } ++
    OraclePins.spectral.map { case (ids, emb, cen) =>
      "ts_spectral" -> ClusterOracles.spectralSql(ids, emb, cen) } ++
    OraclePins.clara.map(m =>
      "ts_clara" -> ClusterOracles.medoidAssignSql(m, stringId = true)) ++
    OraclePins.clarans.map(m =>
      "ts_clarans" -> ClusterOracles.medoidAssignSql(m, stringId = false)) ++
    OraclePins.hdbscan.map(p => "ts_hdbscan" -> ClusterOracles.hdbscanSql(p)) ++
    OraclePins.shapelet.map { case (l, sh, ce) =>
      "ts_shapelet" -> ClusterOracles.shapeletSql(l, sh, ce) } ++
    OraclePins.autoCluster.map(cfg =>
      "ts_auto_cluster" -> ClusterOracles.autoClusterSql(cfg)) ++
    Map(
      "ts_kshape_refit_audit" -> ClusterOracles.refitAuditKSql(3),
      "ts_dba_refit_audit" -> ClusterOracles.refitAuditKSql(3),
      "ts_kasba_refit_audit" -> ClusterOracles.refitAuditKSql(3),
      "ts_spectral_refit_audit" -> ClusterOracles.refitAuditSeriesSql,
      "ts_auto_arima_refit_audit" -> ClusterOracles.autoArimaAuditSql) ++
    OraclePins.mcmcX0.map(pins => "ts_mcmc_fc" -> StochOracle.mcmcSql(pins,
      h = 5, p = 2, nSamples = 200, burnIn = 100, coverage = 0.9, seed = 42L)) ++
    OraclePins.autoArimaCands.map(pins =>
      "ts_auto_arima_orders_sub" -> AutoArimaOracle.ordersSql(pins)) ++
    OraclePins.autoArimaCandsFull.map(pins =>
      "ts_auto_arima_orders" -> AutoArimaOracle.ordersFullSql(pins)) ++
    OraclePins.bayesEtsChain.map(pins =>
      "ts_bayesian_ets_intervals" -> StochOracle.bayesianEtsIntervalsSql(pins,
        h = 5, nSamples = 100, coverage = 0.9, seed = 42L)) ++
    OraclePins.bayesEts.map(p =>
      "ts_bayesian_ets" -> DetOracles.bayesianEtsSql(p, h = 5)) ++
  Map(
    "ts_dbscan" -> ForecastOracle.dbscanSql,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty,
         |  (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_base_price,
         |  (sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(3,2) - l_discount::DECIMAL(18,2))))::DOUBLE AS sum_disc_price,
         |  (sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(3,2) - l_discount::DECIMAL(18,2)) * (1::DECIMAL(3,2) + l_tax::DECIMAL(18,2))))::DOUBLE AS sum_charge,
         |  (sum(l_quantity::DECIMAL(18,2)))::DOUBLE / count(*) AS avg_qty,
         |  (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE / count(*) AS avg_price,
         |  (sum(l_discount::DECIMAL(18,2)))::DOUBLE / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk" ->
      s"""SELECT l_orderkey,
         |  (sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(3,2) - l_discount::DECIMAL(18,2))))::DOUBLE AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate < TIMESTAMP '1995-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "ts_lag_features" ->
      s"""SELECT user_id, event_id, ts, value,
         |  lag(value, 1) OVER ($W) AS value_lag_1,
         |  lag(value, 7) OVER ($W) AS value_lag_7
         |FROM events""".stripMargin,

    "ts_interaction_features" ->
      s"""WITH l AS (SELECT user_id, event_id, value,
         |  lag(value, 1) OVER ($W) AS l1,
         |  lag(value, 2) OVER ($W) AS l2 FROM events)
         |SELECT user_id, event_id,
         |  round(value * l1 + 1e-9, 6) AS v_x_lag1,
         |  round(l1 + l2 + 1e-9, 6) AS lag1_plus_lag2
         |FROM l""".stripMargin,

    "ts_rolling_features" ->
      s"""WITH f AS (SELECT user_id, event_id, value,
         |  count(value) OVER w AS c,
         |  avg(value) OVER w AS m, stddev_samp(value) OVER w AS sd,
         |  min(value) OVER w AS mn, max(value) OVER w AS mx
         |FROM events WINDOW w AS ($W ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id,
         |  round(CASE WHEN c >= 7 THEN m END, 6) AS roll_mean_7,
         |  round(CASE WHEN c >= 7 THEN sd END, 6) AS roll_std_7,
         |  CASE WHEN c >= 7 THEN mn END AS roll_min_7,
         |  CASE WHEN c >= 7 THEN mx END AS roll_max_7
         |FROM f""".stripMargin,

    "ts_calendar_features" ->
      """SELECT event_id,
        |  isodow(ts)::INT AS day_of_week, day(ts)::INT AS day_of_month,
        |  dayofyear(ts)::INT AS day_of_year, weekofyear(ts)::INT AS week,
        |  month(ts)::INT AS month, quarter(ts)::INT AS quarter,
        |  year(ts)::INT AS year, hour(ts)::INT AS hour,
        |  (isodow(ts) >= 6)::INT AS is_weekend
        |FROM events""".stripMargin,

    "ts_fourier_features" ->
      s"""WITH t AS (SELECT user_id, event_id,
         |  (row_number() OVER ($W) - 1)::DOUBLE AS tt FROM events)
         |SELECT user_id, event_id,
         |  round(sin(2*pi()*1*tt/24.0) + 1e-9, 6) AS fsin_1, round(cos(2*pi()*1*tt/24.0) + 1e-9, 6) AS fcos_1,
         |  round(sin(2*pi()*2*tt/24.0) + 1e-9, 6) AS fsin_2, round(cos(2*pi()*2*tt/24.0) + 1e-9, 6) AS fcos_2
         |FROM t""".stripMargin,

    "ts_target_encode" ->
      """WITH stats AS (SELECT event_type, avg(value) AS m, count(value) AS n
        |  FROM events GROUP BY event_type),
        |g AS (SELECT avg(value) AS gm FROM events)
        |SELECT event_type, round((n * m + 10.0 * gm) / (n + 10.0), 6) AS encoded
        |FROM stats, g""".stripMargin,

    "ts_impute_ffill" ->
      s"""SELECT user_id, event_id, ts,
         |  coalesce($synthNullSql,
         |    last_value($synthNullSql IGNORE NULLS) OVER
         |      ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS value
         |FROM events""".stripMargin,

    "ts_impute_linear" ->
      s"""WITH base AS (SELECT user_id, event_id, ts, $synthNullSql AS v,
         |  (row_number() OVER ($W))::DOUBLE AS rn FROM events),
         |f AS (SELECT *,
         |  last_value(v IGNORE NULLS) OVER wb AS pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wb AS pi,
         |  last_value(v IGNORE NULLS) OVER wf AS nv,
         |  last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wf AS ni
         |FROM base WINDOW
         |  wb AS ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id, ts,
         |  round(CASE WHEN v IS NOT NULL THEN v
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) * (rn - pi) / (ni - pi)
         |    ELSE coalesce(pv, nv) END, 6) AS value
         |FROM f""".stripMargin,

    "ts_impute_mean" ->
      s"""SELECT user_id, event_id,
         |  round(coalesce($synthNullSql,
         |    avg($synthNullSql) OVER (PARTITION BY user_id)), 6) AS value
         |FROM events""".stripMargin,

    "ts_outlier_zscore" ->
      """WITH s AS (SELECT user_id, event_id, value,
        |  avg(value) OVER (PARTITION BY user_id) AS mu,
        |  stddev_samp(value) OVER (PARTITION BY user_id) AS sd
        |FROM events)
        |SELECT user_id, event_id, value,
        |  (value IS NOT NULL AND (value < mu - 3.0 * sd OR value > mu + 3.0 * sd)) AS is_outlier
        |FROM s""".stripMargin,

    "ts_outlier_iqr_clip" ->
      """WITH s AS (SELECT user_id, event_id, value,
        |  quantile_cont(value, 0.25) OVER (PARTITION BY user_id) AS q1,
        |  quantile_cont(value, 0.75) OVER (PARTITION BY user_id) AS q3
        |FROM events),
        |fences AS (SELECT *, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM s)
        |SELECT user_id, event_id,
        |  round(CASE WHEN value < lo OR value > hi
        |    THEN least(greatest(value, lo), hi) ELSE value END, 6) AS value
        |FROM fences""".stripMargin,

    "ts_resample_hour" ->
      """SELECT user_id, date_trunc('hour', ts) AS ts, round(avg(value), 6) AS value
        |FROM events GROUP BY user_id, date_trunc('hour', ts)""".stripMargin,

    // window starts = every·k, membership start <= t < start + period →
    // k in [floor((t-period)/every)+1, floor(t/every)] (µs arithmetic)
    "ts_group_dynamic" -> GroupDynamicOracle,
    "ts_group_dynamic_sql" -> GroupDynamicOracle,

    "ts_json_props" ->
      """SELECT user_id, event_type,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // adjusted EWM as explicit weighted moments (the engine's Horner fold
    // is the same algebra; r6n absorbs the summation-order ulps)
    "ts_ewm" ->
      """WITH o AS (SELECT user_id, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |s AS (SELECT a.user_id, a.ts,
        |    sum(power(0.7, a.rn - b.rn) * b.value) AS s1,
        |    sum(power(0.7, a.rn - b.rn) * b.value * b.value) AS s2,
        |    sum(power(0.7, a.rn - b.rn)) AS den
        |  FROM o a JOIN o b ON a.user_id = b.user_id AND b.rn <= a.rn
        |  GROUP BY a.user_id, a.ts)
        |SELECT user_id, ts, round(s1 / den + 1e-9, 6) AS ewm_mean,
        |  round(greatest(s2 / den - (s1 / den) * (s1 / den), 0) + 1e-9, 6) AS ewm_var
        |FROM s""".stripMargin,

    "ts_rolling_by_time" ->
      """SELECT user_id, event_id,
        |  round(avg(value) OVER w + 1e-9, 6) AS troll_mean,
        |  count(value) OVER w AS troll_n
        |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS tu FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tu
        |  RANGE BETWEEN 21599999999 PRECEDING AND CURRENT ROW)""".stripMargin,

    "ts_cusum" ->
      s"""WITH z AS (SELECT user_id, event_id, ts, value,
         |  avg(value) OVER (PARTITION BY user_id) AS mu,
         |  stddev_samp(value) OVER (PARTITION BY user_id) AS sd
         |FROM events)
         |SELECT user_id, event_id,
         |  round(sum(CASE WHEN sd <> 0 THEN (value - mu) / sd ELSE 0.0 END) OVER
         |    ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6) AS cusum
         |FROM z""".stripMargin,

    "ts_mann_kendall" ->
      s"""WITH t AS (SELECT user_id, value, row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events)
         |SELECT a.user_id,
         |  round(sum(sign(b.value - a.value)) / (0.5 * max(a.n) * (max(a.n) - 1.0)), 6) AS mann_kendall
         |FROM t a JOIN t b ON a.user_id = b.user_id AND a.rn < b.rn
         |GROUP BY a.user_id""".stripMargin,

    "ts_sens_slope" ->
      s"""WITH t AS (SELECT user_id, value, row_number() OVER ($W) AS rn FROM events)
         |SELECT a.user_id,
         |  round(median((b.value - a.value) / (b.rn - a.rn)), 6) AS sens_slope
         |FROM t a JOIN t b ON a.user_id = b.user_id AND a.rn < b.rn
         |GROUP BY a.user_id""".stripMargin,

    "ts_naive_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |lastv AS (SELECT user_id, us, value FROM o WHERE rn = n),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT l.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  l.value AS y_hat
         |FROM lastv l JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    "ts_seasonal_naive_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |season AS (SELECT user_id, list(value ORDER BY rn) AS vs, count(*) AS m
         |  FROM o WHERE rn > n - 24 GROUP BY user_id),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT se.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  se.vs[((s.step - 1) % se.m)::INT + 1] AS y_hat
         |FROM season se JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    "ts_moving_average_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |tail AS (SELECT user_id, list(value ORDER BY rn) AS vs
         |  FROM o WHERE rn > n - 12 GROUP BY user_id),
         |avgv AS (SELECT user_id, list_reduce(vs, (acc, v) -> acc + v) / len(vs) AS y_hat FROM tail),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT a.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(a.y_hat, 6) AS y_hat
         |FROM avgv a JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    "ts_ses_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn FROM events),
         |lvl AS (SELECT user_id,
         |  list_reduce(list(value ORDER BY rn), (acc, v) -> 0.3 * v + (1.0 - 0.3) * acc) AS level
         |  FROM o GROUP BY user_id),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT v.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(v.level, 6) AS y_hat
         |FROM lvl v JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    "ts_metrics_persistence" ->
      s"""WITH p AS (SELECT user_id, value AS y,
         |  lag(value, 1) OVER ($W) AS yhat FROM events)
         |SELECT user_id,
         |  round(avg(abs(y - yhat)), 6) AS mae,
         |  round(sqrt(avg((y - yhat) * (y - yhat))), 6) AS rmse,
         |  round(avg(CASE WHEN y <> 0 THEN abs((y - yhat) / y) END), 6) AS mape,
         |  round(avg(CASE WHEN abs(y) + abs(yhat) <> 0
         |    THEN 2.0 * abs(y - yhat) / (abs(y) + abs(yhat)) ELSE 0.0 END), 6) AS smape
         |FROM p WHERE yhat IS NOT NULL GROUP BY user_id""".stripMargin,

    "doc_dedup_exact" ->
      """WITH norm AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
        |g AS (SELECT t, min(doc_id) AS keep, count(*) AS c FROM norm GROUP BY t)
        |SELECT n.doc_id, g.c AS dup_count, n.doc_id <> g.keep AS is_duplicate
        |FROM norm n JOIN g ON n.t = g.t""".stripMargin,

    "doc_dedup_exact_incremental" ->
      """WITH newd AS (SELECT doc_id + 100000 AS doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' fresh' END AS text
        |  FROM documents),
        |oldn AS (SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |nn AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM newd),
        |bm AS (SELECT t, min(doc_id) AS keep FROM nn GROUP BY t)
        |SELECT nn.doc_id,
        |  (oldn.t IS NOT NULL OR nn.doc_id <> bm.keep) AS is_duplicate
        |FROM nn JOIN bm ON nn.t = bm.t LEFT JOIN oldn ON nn.t = oldn.t""".stripMargin,

    "doc_quality" ->
      """WITH m AS (SELECT doc_id, text,
        |  length(text) AS n,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |  length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
        |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS uppers,
        |  length(text) - length(regexp_replace(text, '\s', '', 'g')) AS spaces
        |FROM documents)
        |SELECT doc_id, n::BIGINT AS n_chars, toks::BIGINT AS n_tokens,
        |  round(CASE WHEN toks > 0 THEN (n - spaces)::DOUBLE / toks ELSE 0.0 END, 6) AS mean_word_len,
        |  round(CASE WHEN n > 0 THEN punct::DOUBLE / n ELSE 0.0 END, 6) AS punct_ratio,
        |  round(CASE WHEN n > 0 THEN digits::DOUBLE / n ELSE 0.0 END, 6) AS digit_ratio,
        |  round(greatest(0.0, least(1.0, 1.0
        |    - CASE WHEN toks < 5 THEN 0.5 ELSE 0.0 END
        |    - CASE WHEN n > 0 AND punct::DOUBLE / n > 0.3 THEN 0.3 ELSE 0.0 END
        |    - CASE WHEN n > 0 AND digits::DOUBLE / n > 0.3 THEN 0.2 ELSE 0.0 END
        |    - CASE WHEN n > 0 AND uppers::DOUBLE / n > 0.3 THEN 0.2 ELSE 0.0 END)), 6) AS quality_score
        |FROM m""".stripMargin,

    "emb_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.qv, c.embedding::DOUBLE[]) AS cosine
        |  FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // direct matrix-profile definition: per-window slices, stats from
    // the same s2/m − mu² population formula, the shared flat-window
    // conventions (flat↔flat = 0, flat↔moving = sqrt(2m)), exclusion
    // |i−j| ≥ m/2
    "ts_matrix_profile" -> MpSelfJoinOracle,

    // the distributed diagonal-block path replays the SAME direct
    // definition: one DuckDB truth, two Spark plan shapes (blocked ≡
    // monolithic is additionally pinned bit-exact in the spec)
    "ts_matrix_profile_blocked" -> MpSelfJoinOracle,

    // AB-join direct definition (m=6): windows of the click series ×
    // windows of the purchase series per user, NO exclusion zone, same
    // distance formula/flat conventions (2m = 12); min over the ref side
    "ts_mp_abjoin" ->
      """WITH qa AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE user_id < 60 AND event_type = 'click'
        |  GROUP BY user_id),
        |qb AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE user_id < 60 AND event_type = 'purchase'
        |  GROUP BY user_id),
        |ia AS (SELECT user_id, vs, unnest(generate_series(1, len(vs) - 5))::INT AS i
        |  FROM qa WHERE len(vs) >= 6),
        |ib AS (SELECT user_id, vs, unnest(generate_series(1, len(vs) - 5))::INT AS j
        |  FROM qb WHERE len(vs) >= 6),
        |sa AS (SELECT user_id, i, vs[i:i+5] AS wv,
        |    list_avg(vs[i:i+5]) AS mu,
        |    sqrt(greatest(
        |      list_inner_product(vs[i:i+5], vs[i:i+5]) / 6.0
        |        - list_avg(vs[i:i+5]) ^ 2, 0.0)) AS sd
        |  FROM ia),
        |sb AS (SELECT user_id, j, vs[j:j+5] AS wv,
        |    list_avg(vs[j:j+5]) AS mu,
        |    sqrt(greatest(
        |      list_inner_product(vs[j:j+5], vs[j:j+5]) / 6.0
        |        - list_avg(vs[j:j+5]) ^ 2, 0.0)) AS sd
        |  FROM ib),
        |pair AS (SELECT a.user_id, a.i, list_inner_product(a.wv, b.wv) AS qt,
        |    a.mu AS mui, a.sd AS sdi, b.mu AS muj, b.sd AS sdj
        |  FROM sa a JOIN sb b ON a.user_id = b.user_id),
        |dist AS (SELECT user_id, i,
        |    CASE WHEN sdi <= 0 AND sdj <= 0 THEN 0.0
        |         WHEN sdi <= 0 OR sdj <= 0 THEN sqrt(12.0)
        |         ELSE sqrt(greatest(
        |           12.0 * (1.0 - (qt - 6.0 * mui * muj) / (6.0 * sdi * sdj)),
        |           0.0)) END AS d
        |  FROM pair)
        |SELECT user_id, (i - 1)::BIGINT AS idx, round(min(d) + 1e-9, 6) AS mp
        |FROM dist GROUP BY 1, 2""".stripMargin,

    // ordinal-pattern + template-pair counting replay: every decision is
    // an exact comparison of the same doubles; stable ranks use <= for
    // earlier-position equals (j=0 strict, j>0 gets = from k<j)
    "ts_complexity" ->
      """WITH o AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id < 60),
        |tri AS (SELECT a.user_id, a.rn AS i,
        |    a.value AS x1, b.value AS x2, c.value AS x3
        |  FROM o a JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |           JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2),
        |codes AS (SELECT user_id,
        |    ((x2 < x1)::INT + (x3 < x1)::INT)
        |    + 3 * ((x1 <= x2)::INT + (x3 < x2)::INT)
        |    + 9 * ((x1 <= x3)::INT + (x2 <= x3)::INT) AS code
        |  FROM tri),
        |pcnt AS (SELECT user_id, code, count(*)::DOUBLE AS c
        |  FROM codes GROUP BY 1, 2),
        |pn AS (SELECT user_id, sum(c) AS n FROM pcnt GROUP BY 1),
        |pe AS (SELECT pcnt.user_id,
        |    -sum((c / n) * ln(c / n)) / ln(6.0) AS pe
        |  FROM pcnt JOIN pn USING (user_id) GROUP BY 1),
        |pairs AS (SELECT a.user_id,
        |    greatest(abs(a.x1 - b.x1), abs(a.x2 - b.x2)) AS dm,
        |    greatest(abs(a.x1 - b.x1), abs(a.x2 - b.x2),
        |      abs(a.x3 - b.x3)) AS d3
        |  FROM tri a JOIN tri b ON a.user_id = b.user_id AND b.i > a.i),
        |se AS (SELECT user_id, sum((dm <= 16.0)::INT) AS b_,
        |    sum((d3 <= 16.0)::INT) AS a_
        |  FROM pairs GROUP BY 1)
        |SELECT pe.user_id, round(pe.pe + 1e-9, 6) AS perm_entropy,
        |  CASE WHEN se.a_ > 0 AND se.b_ > 0
        |    THEN round(-ln(se.a_::DOUBLE / se.b_) + 1e-9, 6) END AS sample_entropy
        |FROM pe JOIN se USING (user_id)""".stripMargin,

    // distance-profile replay: the same window stats; query stats from
    // the identical literal list; rank ascending on the rounded distance
    "ts_pattern_search" ->
      """WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE user_id < 60 GROUP BY user_id),
        |w AS (SELECT user_id, vs, len(vs) - 7 AS nw FROM s WHERE len(vs) >= 8),
        |ix AS (SELECT user_id, vs,
        |    unnest(generate_series(1, nw))::INT AS i FROM w),
        |st AS (SELECT user_id, i, vs[i:i+7] AS wv,
        |    list_avg(vs[i:i+7]) AS mu,
        |    sqrt(greatest(
        |      list_inner_product(vs[i:i+7], vs[i:i+7]) / 8.0
        |        - list_avg(vs[i:i+7]) ^ 2, 0.0)) AS sd
        |  FROM ix),
        |qs AS (SELECT qv, list_avg(qv) AS qmu,
        |    sqrt(greatest(list_inner_product(qv, qv) / 8.0
        |      - list_avg(qv) ^ 2, 0.0)) AS qsd
        |  FROM (SELECT [0.0,1.0,2.0,3.0,2.0,1.0,0.0,-1.0]::DOUBLE[] AS qv)),
        |d AS (SELECT user_id, i,
        |    CASE WHEN sd <= 0 AND qsd <= 0 THEN 0.0
        |         WHEN sd <= 0 OR qsd <= 0 THEN 4.0
        |         ELSE sqrt(greatest(
        |           16.0 * (1.0 - (list_inner_product(wv, qv) - 8.0 * mu * qmu)
        |             / (8.0 * sd * qsd)), 0.0)) END AS dist
        |  FROM st, qs),
        |r AS (SELECT user_id, (i - 1)::BIGINT AS idx,
        |    round(dist + 1e-9, 6) AS dist,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY round(dist + 1e-9, 6), i) AS match_rank
        |  FROM d)
        |SELECT user_id, idx, dist, match_rank FROM r
        |WHERE match_rank <= 3""".stripMargin,

    // the MP oracle + ascending rank over the rounded profile
    "ts_motifs" ->
      """WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE user_id < 60 GROUP BY user_id),
        |w AS (SELECT user_id, vs, len(vs) - 7 AS nw FROM s WHERE len(vs) >= 12),
        |ix AS (SELECT user_id, vs,
        |    unnest(generate_series(1, nw))::INT AS i FROM w),
        |st AS (SELECT user_id, i, vs[i:i+7] AS wv,
        |    list_avg(vs[i:i+7]) AS mu,
        |    sqrt(greatest(
        |      list_inner_product(vs[i:i+7], vs[i:i+7]) / 8.0
        |        - list_avg(vs[i:i+7]) ^ 2, 0.0)) AS sd
        |  FROM ix),
        |pair AS (SELECT a.user_id, a.i, list_inner_product(a.wv, b.wv) AS qt,
        |    a.mu AS mui, a.sd AS sdi, b.mu AS muj, b.sd AS sdj
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND abs(a.i - b.i) >= 4),
        |dist AS (SELECT user_id, i,
        |    CASE WHEN sdi <= 0 AND sdj <= 0 THEN 0.0
        |         WHEN sdi <= 0 OR sdj <= 0 THEN 4.0
        |         ELSE sqrt(greatest(
        |           16.0 * (1.0 - (qt - 8.0 * mui * muj) / (8.0 * sdi * sdj)),
        |           0.0)) END AS d
        |  FROM pair),
        |mp AS (SELECT user_id, (i - 1)::BIGINT AS idx,
        |    round(min(d) + 1e-9, 6) AS mp
        |  FROM dist GROUP BY 1, 2),
        |rk AS (SELECT user_id, idx, mp, row_number() OVER
        |    (PARTITION BY user_id ORDER BY mp, idx) AS motif_rank
        |  FROM mp)
        |SELECT user_id, idx, mp, motif_rank FROM rk
        |WHERE motif_rank <= 3""".stripMargin,

    // the MP oracle + a rank over the rounded profile (desc, idx asc)
    "ts_discords" ->
      """WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE user_id < 60 GROUP BY user_id),
        |w AS (SELECT user_id, vs, len(vs) - 7 AS nw FROM s WHERE len(vs) >= 12),
        |ix AS (SELECT user_id, vs,
        |    unnest(generate_series(1, nw))::INT AS i FROM w),
        |st AS (SELECT user_id, i, vs[i:i+7] AS wv,
        |    list_avg(vs[i:i+7]) AS mu,
        |    sqrt(greatest(
        |      list_inner_product(vs[i:i+7], vs[i:i+7]) / 8.0
        |        - list_avg(vs[i:i+7]) ^ 2, 0.0)) AS sd
        |  FROM ix),
        |pair AS (SELECT a.user_id, a.i, list_inner_product(a.wv, b.wv) AS qt,
        |    a.mu AS mui, a.sd AS sdi, b.mu AS muj, b.sd AS sdj
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND abs(a.i - b.i) >= 4),
        |dist AS (SELECT user_id, i,
        |    CASE WHEN sdi <= 0 AND sdj <= 0 THEN 0.0
        |         WHEN sdi <= 0 OR sdj <= 0 THEN 4.0
        |         ELSE sqrt(greatest(
        |           16.0 * (1.0 - (qt - 8.0 * mui * muj) / (8.0 * sdi * sdj)),
        |           0.0)) END AS d
        |  FROM pair),
        |mp AS (SELECT user_id, (i - 1)::BIGINT AS idx,
        |    round(min(d) + 1e-9, 6) AS mp
        |  FROM dist GROUP BY 1, 2),
        |rk AS (SELECT user_id, idx, mp, row_number() OVER
        |    (PARTITION BY user_id ORDER BY mp DESC, idx) AS discord_rank
        |  FROM mp)
        |SELECT user_id, idx, mp, discord_rank FROM rk
        |WHERE discord_rank <= 3""".stripMargin,

    // greedy MMR fold replay: candidates = brute top-10 (rel rounded
    // 6dp like the engine); fold picks argmax λ·rel − (1−λ)·maxsim via
    // first-position-of-max over the id-sorted candidate list (exactly
    // the engine's ascending-scan strict-> rule); scores re-derived per
    // step from the selected prefix
    "emb_mmr_rerank" -> {
      val score = (accRef: String) =>
        s"""CASE WHEN list_contains($accRef, i) THEN -1e308
           |ELSE 0.7 * cs[i].rel - 0.3 * coalesce(list_max(
           |  list_transform($accRef, s2 ->
           |    list_cosine_similarity(cs[i].emb, cs[s2].emb))), 0.0) END"""
          .stripMargin
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |scored AS (SELECT q.query_id, c.vec_id AS cand_id,
         |  round(list_cosine_similarity(q.qv, c.embedding::DOUBLE[]) + 1e-9, 6) AS rel,
         |  c.embedding::DOUBLE[] AS emb,
         |  row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY list_cosine_similarity(q.qv, c.embedding::DOUBLE[]) DESC,
         |      c.vec_id) AS rk
         |  FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
         |cand AS (SELECT query_id,
         |    list(struct_pack(id := cand_id, rel := rel, emb := emb)
         |      ORDER BY cand_id) AS cs
         |  FROM scored WHERE rk <= 10 GROUP BY query_id),
         |picked AS (SELECT query_id, cs, list_reduce(
         |    list_prepend([]::INT[],
         |      list_transform(generate_series(1, 5), s -> [s::INT])),
         |    (acc, x) -> list_append(acc,
         |      list_position(
         |        list_transform(generate_series(1, len(cs)), i -> ${score("acc")}),
         |        list_max(
         |        list_transform(generate_series(1, len(cs)), i -> ${score("acc")})))::INT
         |    )) AS sel
         |  FROM cand),
         |o AS (SELECT query_id, cs, sel,
         |    unnest(generate_series(1, len(sel))) AS t FROM picked)
         |SELECT query_id, cs[sel[t]].id AS cand_id, t AS mmr_rank,
         |  round(0.7 * cs[sel[t]].rel - 0.3 * coalesce(list_max(
         |    list_transform(sel[1:(t-1)::INT], s2 ->
         |      list_cosine_similarity(cs[sel[t]].emb, cs[s2].emb))), 0.0)
         |    + 1e-9, 6) AS mmr_score
         |FROM o""".stripMargin
    },

    // exhaustive-beam HNSW on the 60-vector base == brute-force top-k
    "emb_knn_hnsw_sub" ->
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 60),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 20),
        |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.qv, c.v) AS cosine
        |  FROM q JOIN b c ON c.vec_id <> q.query_id),
        |ranked AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // pinned recall-threshold tables (r11): the ANN/near-dup honesty
    // audits are now ASSERTED — the Spark side emits (method,
    // recall_bucket = floor(recall·20)/20, threshold, pass) from the
    // measured recall; the oracle pins the expected bucket and pass, so
    // any recall regression past one borderline neighbor hash-fails the
    // gate. Buckets reflect the deterministic sf0.01 measurements:
    // lsh/ivf 0.9167 → 0.90, ivfpq 0.8667 → 0.85, hnsw 1.0.
    "emb_knn_recall" ->
      """SELECT 'lsh' AS method, CAST(0.90 AS DOUBLE) AS recall_bucket,
        |  CAST(0.85 AS DOUBLE) AS threshold, true AS pass
        |UNION ALL SELECT 'ivf', CAST(0.90 AS DOUBLE),
        |  CAST(0.85 AS DOUBLE), true
        |UNION ALL SELECT 'ivfpq', CAST(0.85 AS DOUBLE),
        |  CAST(0.80 AS DOUBLE), true
        |UNION ALL SELECT 'hnsw', CAST(1.0 AS DOUBLE),
        |  CAST(0.95 AS DOUBLE), true""".stripMargin,

    "emb_near_dup_recall" ->
      """SELECT 'cosine_near_dup' AS method,
        |  CAST(1.0 AS DOUBLE) AS recall_bucket,
        |  CAST(0.95 AS DOUBLE) AS threshold, true AS pass""".stripMargin,

    "ts_log_transform" ->
      "SELECT user_id, event_id, round(ln(1 + value), 6) AS value FROM events",

    "ts_boxcox" ->
      "SELECT user_id, event_id, round((pow(value + 1.0, 0.5) - 1) / 0.5, 6) AS value FROM events",

    "ts_diff_roundtrip" ->
      "SELECT user_id, ts, round(value, 6) AS value FROM events",

    "ts_difference_seasonal" ->
      s"""WITH t AS (SELECT user_id, event_id, value,
         |  lag(value, 24) OVER ($W) AS l24,
         |  row_number() OVER ($W) AS rn FROM events)
         |SELECT user_id, event_id, value - l24 AS value FROM t WHERE rn > 24""".stripMargin,

    "ts_seasonal_decomp" ->
      s"""WITH b AS (SELECT user_id, event_id, value,
         |  (row_number() OVER ($W) - 1) % 24 AS phase,
         |  CASE WHEN count(value) OVER wf >= 24 THEN avg(value) OVER wf END AS trend
         |FROM events WINDOW wf AS ($W ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
         |det AS (SELECT *, value - trend AS detr FROM b),
         |pm AS (SELECT user_id, phase, avg(detr) AS pmean FROM det GROUP BY user_id, phase),
         |ctr AS (SELECT user_id, phase,
         |  pmean - avg(pmean) OVER (PARTITION BY user_id) AS seasonal FROM pm)
         |SELECT d.user_id, d.event_id, round(d.trend + 1e-9, 6) AS trend,
         |  round(c.seasonal + 1e-9, 6) AS seasonal,
         |  round(d.detr - c.seasonal + 1e-9, 6) AS resid
         |FROM det d JOIN ctr c ON d.user_id = c.user_id AND d.phase = c.phase""".stripMargin,

    "ts_conformal" ->
      s"""WITH e AS (SELECT user_id, event_id, value,
         |  lag(value, 1) OVER ($W) AS yhat,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |cal AS (SELECT user_id, abs(value - yhat) AS r FROM e
         |  WHERE rn <= floor(n * 0.8) AND yhat IS NOT NULL),
         |q AS (SELECT user_id, count(*) AS cn, list(r ORDER BY r) AS rs FROM cal GROUP BY user_id),
         |qq AS (SELECT user_id, cn, rs, least(1.0, ceil((cn + 1) * 0.9) / cn) AS lv FROM q),
         |qp AS (SELECT user_id, cn, rs, (cn - 1) * lv AS pos FROM qq),
         |qh AS (SELECT user_id,
         |  rs[floor(pos)::INT + 1] * (1.0 - (pos - floor(pos))) +
         |  rs[least(floor(pos)::INT + 2, cn)::INT] * (pos - floor(pos)) AS qhat FROM qp)
         |SELECT e.user_id, e.event_id,
         |  round(e.yhat - qh.qhat, 6) AS y_hat_lower,
         |  round(e.yhat + qh.qhat, 6) AS y_hat_upper
         |FROM e JOIN qh ON e.user_id = qh.user_id WHERE e.rn > floor(e.n * 0.8)""".stripMargin,

    "ts_acf" ->
      s"""WITH s AS (SELECT user_id, value, row_number() OVER ($W) AS rn FROM events),
         |m AS (SELECT user_id, avg(value) AS mu, count(*) AS n FROM events GROUP BY user_id),
         |den AS (SELECT s.user_id, sum((s.value - m.mu) * (s.value - m.mu)) AS den
         |  FROM s JOIN m USING (user_id) GROUP BY s.user_id),
         |pairs AS (SELECT a.user_id, ks.k, (a.value - m.mu) * (b.value - m.mu) AS prod
         |  FROM s a CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k) ks
         |  JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + ks.k
         |  JOIN m ON m.user_id = a.user_id)
         |SELECT p.user_id, p.k AS lag, round(sum(p.prod) / max(d.den), 6) AS acf,
         |  round(1.96 / sqrt(max(m.n)), 6) AS ci_upper
         |FROM pairs p JOIN den d ON p.user_id = d.user_id JOIN m ON m.user_id = p.user_id
         |GROUP BY p.user_id, p.k""".stripMargin,

    "ts_ljung_box" ->
      s"""WITH s AS (SELECT user_id, value, row_number() OVER ($W) AS rn FROM events),
         |m AS (SELECT user_id, avg(value) AS mu, count(*) AS n FROM events GROUP BY user_id),
         |den AS (SELECT s.user_id, sum((s.value - m.mu) * (s.value - m.mu)) AS den
         |  FROM s JOIN m USING (user_id) GROUP BY s.user_id),
         |pairs AS (SELECT a.user_id, ks.k, (a.value - m.mu) * (b.value - m.mu) AS prod
         |  FROM s a CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS k) ks
         |  JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + ks.k
         |  JOIN m ON m.user_id = a.user_id),
         |rk AS (SELECT p.user_id, p.k, sum(p.prod) / max(d.den) AS r, max(m.n) AS n
         |  FROM pairs p JOIN den d ON p.user_id = d.user_id JOIN m ON m.user_id = p.user_id
         |  GROUP BY p.user_id, p.k)
         |SELECT user_id, round(sum(r * r / (n - k)) * (max(n) * (max(n) + 2.0)), 6) AS q_stat
         |FROM rk GROUP BY user_id""".stripMargin,

    "ts_cv_expanding" ->
      """WITH tm AS (SELECT ts, row_number() OVER (ORDER BY ts) AS tidx
        |  FROM (SELECT DISTINCT ts FROM events)),
        |nt AS (SELECT max(tidx) AS nt FROM tm),
        |r AS (SELECT t.tidx, f.fold, n.nt FROM events e
        |  JOIN tm t ON e.ts = t.ts CROSS JOIN nt n
        |  CROSS JOIN (SELECT unnest(generate_series(0, 2))::INT AS fold) f),
        |marked AS (SELECT fold,
        |  CASE WHEN tidx <= nt - (3 - fold) * 24 THEN 'train'
        |    WHEN tidx > nt - (3 - fold) * 24 AND tidx <= nt - (3 - fold) * 24 + 24 THEN 'test'
        |  END AS split FROM r)
        |SELECT fold, split, count(*) AS n_rows FROM marked
        |WHERE split IS NOT NULL GROUP BY fold, split""".stripMargin,

    "ts_bias" ->
      s"""WITH p AS (SELECT user_id, value AS y, lag(value, 1) OVER ($W) AS yhat FROM events)
         |SELECT user_id,
         |  round(avg(yhat - y), 6) AS mean_error,
         |  round(avg(CASE WHEN yhat > y THEN 1.0 ELSE 0.0 END), 6) AS sign_ratio,
         |  round(avg(yhat) / avg(y), 6) AS bias_ratio
         |FROM p WHERE yhat IS NOT NULL GROUP BY user_id""".stripMargin,

    "ts_calibration" ->
      s"""WITH p AS (SELECT user_id, value, lag(value, 1) OVER ($W) AS yhat FROM events),
         |q AS (SELECT value, yhat * 0.9 AS q1, yhat AS q2, yhat * 1.1 AS q3
         |  FROM p WHERE yhat IS NOT NULL)
         |SELECT 0.1 AS nominal, round(avg(CASE WHEN value <= q1 THEN 1.0 ELSE 0.0 END), 6) AS empirical FROM q
         |UNION ALL
         |SELECT 0.5, round(avg(CASE WHEN value <= q2 THEN 1.0 ELSE 0.0 END), 6) FROM q
         |UNION ALL
         |SELECT 0.9, round(avg(CASE WHEN value <= q3 THEN 1.0 ELSE 0.0 END), 6) FROM q""".stripMargin,

    "ts_crps" ->
      s"""WITH p AS (SELECT user_id, value AS y, lag(value, 1) OVER ($W) AS yhat FROM events),
         |q AS (SELECT user_id, y, yhat * 0.9 AS q1, yhat AS q2, yhat * 1.1 AS q3
         |  FROM p WHERE yhat IS NOT NULL)
         |SELECT user_id, round(avg((
         |  (CASE WHEN y >= q1 THEN 0.1 * (y - q1) ELSE (1.0 - 0.1) * (q1 - y) END) +
         |  (CASE WHEN y >= q2 THEN 0.5 * (y - q2) ELSE (1.0 - 0.5) * (q2 - y) END) +
         |  (CASE WHEN y >= q3 THEN 0.9 * (y - q3) ELSE (1.0 - 0.9) * (q3 - y) END)) / 3.0), 6) AS crps
         |FROM q GROUP BY user_id""".stripMargin,

    "ts_ensemble_naive_ma" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |lastv AS (SELECT user_id, us, value FROM o WHERE rn = n),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |tail AS (SELECT user_id, list(value ORDER BY rn) AS vs
         |  FROM o WHERE rn > n - 12 GROUP BY user_id),
         |ma AS (SELECT user_id, list_reduce(vs, (acc, v) -> acc + v) / len(vs) AS mav FROM tail)
         |SELECT l.user_id, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(l.value * 0.5 + ma.mav * 0.5, 6) AS y_hat
         |FROM lastv l JOIN d USING (user_id) JOIN ma USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    "ts_reconcile_bu" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |lastv AS (SELECT user_id, us, value FROM o WHERE rn = n),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |fc AS (SELECT l.user_id, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  l.value AS y_hat FROM lastv l JOIN d USING (user_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s)
         |SELECT user_id::VARCHAR AS unique_id, ts, round(y_hat, 6) AS y_hat FROM fc
         |UNION ALL
         |SELECT 'g' || (user_id % 3)::VARCHAR, ts, round(sum(y_hat), 6)
         |  FROM fc GROUP BY user_id % 3, ts
         |UNION ALL
         |SELECT 'total', ts, round(sum(y_hat), 6) FROM fc GROUP BY ts""".stripMargin,

    // OLS MinTrace via the Woodbury reduction (see ReconcileOracle):
    // group sums + a 4×4 Cramer inverse replay the full m×m projection
    "ts_reconcile_mint" -> ReconcileOracle.mintSql,

    // covariance MinTrace: W and SᵀW⁻¹S inverted by Gauss-Jordan
    // list-folds over the 30-bottom subset hierarchy (see ReconcileOracle)
    "ts_reconcile_permbu" -> ReconcileOracle.permbuSql,
    "ts_reconcile_mintcv" -> ReconcileOracle.mintCvSql,

    "ts_impute_seasonal" ->
      s"""WITH b AS (SELECT user_id, event_id, $synthNullSql AS v,
         |  (row_number() OVER ($W) - 1) % 24 AS phase,
         |  row_number() OVER ($W) AS rn FROM events)
         |SELECT user_id, event_id, coalesce(v,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id, phase ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id, phase ORDER BY rn DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS value
         |FROM b""".stripMargin,

    "ts_impute_bfill" ->
      s"""SELECT user_id, event_id,
         |  coalesce($synthNullSql,
         |    last_value($synthNullSql IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS value
         |FROM events""".stripMargin,

    "ts_impute_median" ->
      s"""SELECT user_id, event_id,
         |  round(coalesce($synthNullSql,
         |    quantile_cont($synthNullSql, 0.5) OVER (PARTITION BY user_id)), 6) AS value
         |FROM events""".stripMargin,

    "ts_outlier_hampel" ->
      s"""WITH m AS (SELECT user_id, event_id, ts, value,
         |  quantile_cont(value, 0.5) OVER ($W ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING) AS med
         |FROM events),
         |mm AS (SELECT *, quantile_cont(abs(value - med), 0.5) OVER
         |  ($W ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING) AS mad FROM m)
         |SELECT user_id, event_id, value,
         |  (value IS NOT NULL AND
         |   (value < med - (1.4826 * 3) * mad OR value > med + (1.4826 * 3) * mad)) AS is_outlier
         |FROM mm""".stripMargin,

    "ts_outlier_rolling_z" ->
      s"""WITH f AS (SELECT user_id, event_id, value,
         |  avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sd
         |FROM events WINDOW w AS ($W ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id, value,
         |  (value IS NOT NULL AND (value < mu - 3.0 * sd OR value > mu + 3.0 * sd)) AS is_outlier
         |FROM f""".stripMargin,

    "ts_outlier_treat_median" ->
      """WITH s AS (SELECT user_id, event_id, value,
        |  avg(value) OVER (PARTITION BY user_id) AS mu,
        |  stddev_samp(value) OVER (PARTITION BY user_id) AS sd
        |FROM events),
        |f AS (SELECT *, (value < mu - 2.0 * sd OR value > mu + 2.0 * sd) AS o FROM s)
        |SELECT user_id, event_id,
        |  round(CASE WHEN o THEN quantile_cont(CASE WHEN NOT o THEN value END, 0.5)
        |    OVER (PARTITION BY user_id) ELSE value END, 6) AS value
        |FROM f""".stripMargin,

    "ts_upsample_30m" ->
      """WITH down AS (SELECT user_id, date_trunc('hour', ts) AS ts, avg(value) AS value
        |  FROM events GROUP BY 1, 2),
        |rng AS (SELECT user_id, epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
        |  FROM down GROUP BY user_id),
        |grid AS (SELECT user_id,
        |  make_timestamp(unnest(generate_series(lo, hi, 1800000000))) AS ts FROM rng),
        |j AS (SELECT g.user_id, g.ts, d.value FROM grid g
        |  LEFT JOIN down d ON d.user_id = g.user_id AND d.ts = g.ts)
        |SELECT user_id, ts, round(coalesce(value,
        |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS value
        |FROM j""".stripMargin,

    // ── temporal joins & sessionization (round-9): DuckDB has native
    // ASOF JOIN, making these first-class hash oracles ──────────────────
    "ts_asof_backward" -> AsofBackwardOracle,

    "ts_asof_tolerance" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
        |           FROM events WHERE event_type = 'click'),
        |     j AS (SELECT l.user_id, l.event_id, l.ts, r.ts AS mt,
        |                  r.click_id AS mc, r.click_value AS mv
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
        |SELECT user_id, event_id, ts,
        |  CASE WHEN ts - mt <= INTERVAL 1 DAY THEN mt END AS asof_ts,
        |  CASE WHEN ts - mt <= INTERVAL 1 DAY THEN mc END AS click_id,
        |  CASE WHEN ts - mt <= INTERVAL 1 DAY THEN mv END AS click_value
        |FROM j""".stripMargin,

    "ts_asof_forward" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts, event_id AS error_id
        |           FROM events WHERE event_type = 'error')
        |SELECT l.user_id, l.event_id, l.ts, r.ts AS asof_ts, r.error_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    // nearest = backward and forward ASOF joins + closest-side pick;
    // exact-distance ties go backward (the operator's documented contract)
    "ts_asof_nearest" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts, event_id AS signup_id
        |           FROM events WHERE event_type = 'signup'),
        |     b AS (SELECT l.event_id, r.ts AS bt, r.signup_id AS bid
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |     f AS (SELECT l.event_id, r.ts AS ft, r.signup_id AS fid
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.user_id, l.event_id, l.ts,
        |  CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
        |       WHEN date_diff('microseconds', bt, l.ts) <=
        |            date_diff('microseconds', l.ts, ft) THEN bt ELSE ft END AS asof_ts,
        |  CASE WHEN bt IS NULL THEN fid WHEN ft IS NULL THEN bid
        |       WHEN date_diff('microseconds', bt, l.ts) <=
        |            date_diff('microseconds', l.ts, ft) THEN bid ELSE fid END AS signup_id
        |FROM l JOIN b ON l.event_id = b.event_id JOIN f ON l.event_id = f.event_id""".stripMargin,

    // DuckDB's ASOF with a STRICT (>) comparator is the native oracle for
    // allowExactMatches=false
    "ts_asof_strict" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS prev_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT l.o_custkey, l.o_orderkey, l.o_orderdate,
        |       r.o_orderdate AS asof_ts, r.prev_orderkey
        |FROM orders l ASOF LEFT JOIN r
        |  ON l.o_custkey = r.o_custkey AND l.o_orderdate > r.o_orderdate""".stripMargin,

    // the native-tier twin and the SQL-TVF front door share the composed
    // form's oracle verbatim — one DuckDB truth, three Spark plan shapes
    "ts_asof_native_backward" -> AsofBackwardOracle,
    "ts_asof_sql" -> AsofBackwardOracle,

    "ts_asof_native_nearest" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts, event_id AS signup_id
        |           FROM events WHERE event_type = 'signup'),
        |     b AS (SELECT l.event_id, r.ts AS bt, r.signup_id AS bid
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |     f AS (SELECT l.event_id, r.ts AS ft, r.signup_id AS fid
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.user_id, l.event_id, l.ts,
        |  CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
        |       WHEN date_diff('microseconds', bt, l.ts) <=
        |            date_diff('microseconds', l.ts, ft) THEN bt ELSE ft END AS asof_ts,
        |  CASE WHEN bt IS NULL THEN fid WHEN ft IS NULL THEN bid
        |       WHEN date_diff('microseconds', bt, l.ts) <=
        |            date_diff('microseconds', l.ts, ft) THEN bid ELSE fid END AS signup_id
        |FROM l JOIN b ON l.event_id = b.event_id JOIN f ON l.event_id = f.event_id""".stripMargin,

    "ts_asof_native_strict" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS prev_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT l.o_custkey, l.o_orderkey, l.o_orderdate,
        |       r.o_orderdate AS asof_ts, r.prev_orderkey
        |FROM orders l ASOF LEFT JOIN r
        |  ON l.o_custkey = r.o_custkey AND l.o_orderdate > r.o_orderdate""".stripMargin,

    "ts_range_join_native" -> RangeJoinOracle,

    "ts_range_join" -> RangeJoinOracle,
    "ts_range_sql" -> RangeJoinOracle,

    "ts_sessionize" -> SessionizeOracle,
    "ts_sessionize_sql" -> SessionizeOracle,

    "ts_overlap_join" -> OverlapJoinOracle,
    "ts_overlap_join_native" -> OverlapJoinOracle,
    "ts_overlap_sql" -> OverlapJoinOracle,
    "ts_pit_join" -> PitJoinOracle,
    "ts_pit_sql" -> PitJoinOracle,

    // Morton fold replayed bit by bit (generated, so oracle and operator
    // share the same interleave layout by construction)
    "ts_zorder_key" -> {
      val terms = for (b <- 0 until 12; (c, i) <- Seq("user_id", "hr").zipWithIndex)
        yield s"(((CAST($c AS BIGINT) >> $b) & 1) << ${b * 2 + i})"
      s"""WITH e AS (SELECT event_id, user_id,
         |  (epoch_us(ts) // 3600000000) % 4096 AS hr FROM events)
         |SELECT event_id, ${terms.mkString(" | ")} AS zkey FROM e""".stripMargin
    },

    "ts_time_embeddings" ->
      """SELECT event_id,
        |  round(sin(2 * pi() * hour(ts) / 24.0) + 1e-9, 6) AS hour_sin,
        |  round(cos(2 * pi() * hour(ts) / 24.0) + 1e-9, 6) AS hour_cos,
        |  round(sin(2 * pi() * (isodow(ts) - 1) / 7.0) + 1e-9, 6) AS dow_sin,
        |  round(cos(2 * pi() * (isodow(ts) - 1) / 7.0) + 1e-9, 6) AS dow_cos
        |FROM events""".stripMargin,

    "ts_holiday" ->
      """WITH h AS (SELECT unnest(['2024-01-01', '2024-01-15', '2024-12-25']::DATE[]) AS hd)
        |SELECT event_id,
        |  (CASE WHEN strftime(ts, '%Y-%m-%d') IN ('2024-01-01', '2024-01-15', '2024-12-25')
        |    THEN 1 ELSE 0 END)::TINYINT AS is_holiday,
        |  coalesce((SELECT min(datediff('day', ts::DATE, hd)) FROM h WHERE hd >= ts::DATE), 365)::INT
        |    AS days_to_holiday,
        |  coalesce((SELECT min(datediff('day', hd, ts::DATE)) FROM h WHERE hd <= ts::DATE), 365)::INT
        |    AS days_since_holiday
        |FROM events""".stripMargin,

    "ts_mase" ->
      s"""WITH t AS (SELECT user_id, value,
         |  lag(value, 1) OVER ($W) AS l1,
         |  lag(value, 24) OVER ($W) AS l24 FROM events)
         |SELECT user_id,
         |  round(avg(abs(value - l1)) / avg(abs(value - l24)), 6) AS mase
         |FROM t GROUP BY user_id""".stripMargin,

    "ts_reconcile_td" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |lastv AS (SELECT user_id, us, value FROM o WHERE rn = n),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |fc AS (SELECT l.user_id, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  l.value AS y_hat FROM lastv l JOIN d USING (user_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s),
         |tot AS (SELECT ts, sum(y_hat) AS y FROM fc GROUP BY ts),
         |h AS (SELECT user_id, sum(value) AS t FROM events GROUP BY user_id),
         |ha AS (SELECT sum(t) AS a FROM h),
         |props AS (SELECT user_id, t / a AS p FROM h, ha)
         |SELECT p.user_id::VARCHAR AS unique_id, t2.ts, round(t2.y * p.p, 6) AS y_hat
         |FROM tot t2 CROSS JOIN props p""".stripMargin,

    "ts_cv_sliding" ->
      """WITH tm AS (SELECT ts, row_number() OVER (ORDER BY ts) AS tidx
        |  FROM (SELECT DISTINCT ts FROM events)),
        |nt AS (SELECT max(tidx) AS nt FROM tm),
        |r AS (SELECT t.tidx, f.fold, n.nt FROM events e
        |  JOIN tm t ON e.ts = t.ts CROSS JOIN nt n
        |  CROSS JOIN (SELECT unnest(generate_series(0, 2))::INT AS fold) f),
        |marked AS (SELECT fold,
        |  CASE WHEN tidx <= nt - (3 - fold) * 24 AND tidx > nt - (3 - fold) * 24 - 100 THEN 'train'
        |    WHEN tidx > nt - (3 - fold) * 24 AND tidx <= nt - (3 - fold) * 24 + 24 THEN 'test'
        |  END AS split FROM r)
        |SELECT fold, split, count(*) AS n_rows FROM marked
        |WHERE split IS NOT NULL GROUP BY fold, split""".stripMargin,

    // zero-frame payloads emit NO rows (r9 review fix: the old greatest
    // clamp emitted a phantom frame_index-0 row for sub-frame payloads)
    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id, octet_length(text::BLOB) AS len FROM documents),
        |n AS (SELECT doc_id, (len // 100)::INT AS nf FROM b)
        |SELECT doc_id,
        |  unnest(generate_series(0, nf - 1, 2)) AS frame_index,
        |  unnest(generate_series(0, nf - 1, 2)) * 100 AS byte_offset
        |FROM n WHERE nf > 0""".stripMargin,

    // real-PNG roundtrip ground truth: the raster-generation arithmetic
    // only — the Spark side must reconstruct it through genuine PNG
    // encode (deflate+CRC+filters) → decode (inflate+unfilter)
    "mm_pixel_features" ->
      """WITH b AS (SELECT doc_id,
        |  ((n_chars % 24) + 4)::INT AS width,
        |  (((n_chars // 24) % 24) + 4)::INT AS height,
        |  ((doc_id % 4) + 1)::INT AS channels FROM documents),
        |g AS (SELECT doc_id, width, height, channels,
        |  unnest(generate_series(0, width * height * channels - 1)) AS i FROM b),
        |px AS (SELECT doc_id, width, height, channels,
        |  (doc_id * 2654435761 + i * 97) % 256 AS v FROM g)
        |SELECT doc_id, width, height, channels, sum(v)::BIGINT AS px_sum,
        |  min(v)::INT AS px_min, max(v)::INT AS px_max
        |FROM px GROUP BY doc_id, width, height, channels""".stripMargin,

    // audio-segmentation ground truth: exact dyadic frame energies from
    // the silence-masked sample formula, then the same flip/cumsum
    // segment numbering in SQL
    "mm_audio_segments" ->
      """WITH b AS (SELECT doc_id, ((doc_id % 2) + 1)::INT AS ch,
        |  (((n_chars % 400) + 200) * ((doc_id % 2) + 1))::INT AS n
        |  FROM documents),
        |g AS (SELECT doc_id, n,
        |  unnest(generate_series(0, n - 1)) AS i FROM b),
        |s AS (SELECT doc_id, i // 256 AS fi,
        |  CASE WHEN (i // 512) % 3 = 0 THEN 0
        |    ELSE (doc_id * 131 + i * 17) % 65536 - 32768 END AS v FROM g),
        |e AS (SELECT doc_id, fi::INT AS frame_index,
        |  sum((v / 32768.0) * (v / 32768.0)) / count(*) AS energy
        |  FROM s GROUP BY doc_id, fi),
        |a AS (SELECT doc_id, frame_index, energy,
        |  energy > 0.1 AS is_active FROM e),
        |f AS (SELECT doc_id, frame_index, energy, is_active,
        |  CASE WHEN lag(is_active) OVER w IS NULL
        |    OR lag(is_active) OVER w <> is_active THEN 1 ELSE 0 END AS flip
        |  FROM a WINDOW w AS (PARTITION BY doc_id ORDER BY frame_index))
        |SELECT doc_id, frame_index, energy, is_active,
        |  sum(flip) OVER (PARTITION BY doc_id ORDER BY frame_index
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS segment_id
        |FROM f""".stripMargin,

    // scene-change ground truth: Y-plane means from the stepped-level
    // formula, then the same lag-window delta + threshold in SQL
    "mm_scene_changes" ->
      """WITH b AS (SELECT doc_id,
        |  (2 * ((n_chars % 8) + 2))::INT AS w,
        |  (2 * (((n_chars // 8) % 6) + 2))::INT AS h,
        |  ((doc_id % 4) * 3 + 6)::INT AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h,
        |  unnest(generate_series(0, nf - 1)) AS fi FROM b),
        |g AS (SELECT doc_id, w, h, fi,
        |  unnest(generate_series(0, w * h - 1)) AS i FROM fr),
        |px AS (SELECT doc_id, w, h, fi,
        |  CASE WHEN (fi // 3) % 2 = 0 THEN 0 ELSE 96 END +
        |    (doc_id * 97 + fi * 13 + i * 31) % 128 AS v FROM g),
        |m AS (SELECT doc_id, fi::INT AS frame_index,
        |  sum(v)::DOUBLE / (w * h) AS y_mean
        |  FROM px GROUP BY doc_id, fi, w, h),
        |d AS (SELECT doc_id, frame_index, y_mean,
        |  y_mean - lag(y_mean) OVER
        |    (PARTITION BY doc_id ORDER BY frame_index) AS delta FROM m)
        |SELECT doc_id, frame_index, y_mean, delta,
        |  (delta IS NULL OR abs(delta) > 48.0) AS is_scene_change
        |FROM d""".stripMargin,

    // resize ground truth: box = truncating integer mean of each 2x2
    // source block; nearest = floor(out*src/out_dim) index map — both
    // replayed directly from the pixel formula
    "mm_resize" ->
      """WITH b AS (SELECT doc_id,
        |  (2 * ((n_chars % 12) + 2))::INT AS w,
        |  (2 * (((n_chars // 24) % 12) + 2))::INT AS h,
        |  ((doc_id % 3) + 1)::INT AS ch FROM documents),
        |boxg AS (SELECT doc_id, w, h, ch, x, y, c,
        |  ((doc_id * 2654435761 + ((2*y*w + 2*x)*ch + c) * 97) % 256 +
        |   (doc_id * 2654435761 + ((2*y*w + 2*x + 1)*ch + c) * 97) % 256 +
        |   (doc_id * 2654435761 + (((2*y + 1)*w + 2*x)*ch + c) * 97) % 256 +
        |   (doc_id * 2654435761 + (((2*y + 1)*w + 2*x + 1)*ch + c) * 97) % 256)
        |  // 4 AS v
        |  FROM b,
        |  unnest(generate_series(0, w // 2 - 1)) AS gx(x),
        |  unnest(generate_series(0, h // 2 - 1)) AS gy(y),
        |  unnest(generate_series(0, ch - 1)) AS gc(c)),
        |boxa AS (SELECT doc_id, sum(v)::BIGINT AS box_sum,
        |  min(v)::INT AS box_min, max(v)::INT AS box_max
        |  FROM boxg GROUP BY doc_id),
        |nng AS (SELECT doc_id,
        |  (doc_id * 2654435761 +
        |   ((((y2 * h) // (h // 2 + 1)) * w + ((x2 * w) // (w // 2 + 1)))
        |    * ch + c) * 97) % 256 AS v
        |  FROM b,
        |  unnest(generate_series(0, w // 2)) AS gx(x2),
        |  unnest(generate_series(0, h // 2)) AS gy(y2),
        |  unnest(generate_series(0, ch - 1)) AS gc(c)),
        |nna AS (SELECT doc_id, sum(v)::BIGINT AS nn_sum FROM nng
        |  GROUP BY doc_id)
        |SELECT b.doc_id, w AS width, h AS height, ch AS channels,
        |  (w // 2)::INT AS half_w, (h // 2)::INT AS half_h,
        |  box_sum, box_min, box_max,
        |  (w // 2 + 1)::INT AS nn_w, (h // 2 + 1)::INT AS nn_h, nn_sum
        |FROM b JOIN boxa ON boxa.doc_id = b.doc_id
        |JOIN nna ON nna.doc_id = b.doc_id""".stripMargin,

    // real-WAV roundtrip ground truth: integer PCM arithmetic only
    "mm_audio_features" ->
      """WITH b AS (SELECT doc_id, ((doc_id % 2) + 1)::INT AS ch,
        |  (((n_chars % 500) + 50) * ((doc_id % 2) + 1))::INT AS n FROM documents),
        |g AS (SELECT doc_id, ch, n,
        |  unnest(generate_series(0, n - 1)) AS i FROM b),
        |s AS (SELECT doc_id, ch, n, i,
        |  (doc_id * 131 + i * 17) % 65536 - 32768 AS v FROM g)
        |SELECT doc_id, 16000 AS sample_rate, ch AS channels, n AS n_samples,
        |  sum(v)::BIGINT AS s_sum, sum(v * v)::BIGINT AS s_sumsq,
        |  sum(CASE WHEN i >= ch AND ((v >= 0) <>
        |    ((doc_id * 131 + (i - ch) * 17) % 65536 - 32768 >= 0))
        |    THEN 1 ELSE 0 END)::BIGINT AS zero_cross
        |FROM s GROUP BY doc_id, ch, n""".stripMargin,

    // real-Y4M roundtrip ground truth: frame-generation arithmetic only
    "mm_video_frames" ->
      """WITH b AS (SELECT doc_id,
        |  (2 * ((n_chars % 8) + 2))::INT AS w,
        |  (2 * (((n_chars // 8) % 6) + 2))::INT AS h,
        |  ((doc_id % 5) + 2)::INT AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h,
        |  unnest(generate_series(0, nf - 1, 2)) AS fi FROM b),
        |g AS (SELECT doc_id, w, h, fi,
        |  unnest(generate_series(0, (w * h * 3) // 2 - 1)) AS i FROM fr),
        |px AS (SELECT doc_id, w, h, fi, i,
        |  (doc_id * 97 + fi * 13 + i * 31) % 256 AS v FROM g)
        |SELECT doc_id, fi::INT AS frame_index,
        |  sum(CASE WHEN i < w * h THEN v END)::BIGINT AS y_sum,
        |  sum(CASE WHEN i >= w * h THEN v END)::BIGINT AS c_sum,
        |  min(CASE WHEN i < w * h THEN v END)::INT AS y_min,
        |  max(CASE WHEN i < w * h THEN v END)::INT AS y_max
        |FROM px GROUP BY doc_id, fi""".stripMargin,

    // real-JPEG roundtrip ground truth: the DC-only closed form
    // clamp(((dc·q + 4) >> 3) + 128) per block + the integer JFIF
    // YCbCr→RGB formulas — never the JPEG bytes
    "mm_jpeg_features" ->
      """WITH b AS (SELECT doc_id,
        |  ((n_chars % 40) + 9)::INT AS w, (((n_chars // 40) % 40) + 9)::INT AS h,
        |  (doc_id % 2 = 0) AS gray FROM documents),
        |xs AS (SELECT doc_id, w, h, gray,
        |  unnest(generate_series(0, w - 1)) AS x FROM b),
        |g AS (SELECT doc_id, w, h, gray, x,
        |  unnest(generate_series(0, h - 1)) AS y FROM xs),
        |px AS (SELECT doc_id, w, h, gray,
        |  floor(((((doc_id*31 + (y//8)*5 + (x//8)*3) % 111) - 55) * 16 + 4) / 8.0) + 128 AS yv,
        |  floor(((((doc_id*31 + 7 + (y//16)*5 + (x//16)*3) % 111) - 55) * 17 + 4) / 8.0) + 128 AS cbv,
        |  floor(((((doc_id*31 + 14 + (y//16)*5 + (x//16)*3) % 111) - 55) * 17 + 4) / 8.0) + 128 AS crv
        |  FROM g),
        |v AS (
        |  SELECT doc_id, w, h, 1 AS channels, yv::BIGINT AS val FROM px WHERE gray
        |  UNION ALL SELECT doc_id, w, h, 3, least(255, greatest(0,
        |    yv + floor((91881*(crv-128) + 32768)/65536.0)))::BIGINT FROM px WHERE NOT gray
        |  UNION ALL SELECT doc_id, w, h, 3, least(255, greatest(0,
        |    yv + floor((-22554*(cbv-128) - 46802*(crv-128) + 32768)/65536.0)))::BIGINT FROM px WHERE NOT gray
        |  UNION ALL SELECT doc_id, w, h, 3, least(255, greatest(0,
        |    yv + floor((116130*(cbv-128) + 32768)/65536.0)))::BIGINT FROM px WHERE NOT gray)
        |SELECT doc_id, w AS width, h AS height, channels,
        |  sum(val)::BIGINT AS px_sum, min(val)::INT AS px_min, max(val)::INT AS px_max
        |FROM v GROUP BY doc_id, w, h, channels""".stripMargin,

    // multimodal curation funnel ground truth: every branch replayed
    // arithmetically (PNG raster formula; JPEG DC-only closed form per
    // block; WAV int16 sawtooth zero crossings; opaque drops)
    "mm_curation_funnel" ->
      """WITH png_b AS (SELECT doc_id,
        |  ((n_chars % 16) + 2) * (((n_chars // 16) % 16) + 2) AS n
        |  FROM documents WHERE doc_id % 4 = 0),
        |png_g AS (SELECT doc_id, n,
        |  unnest(generate_series(0, n - 1)) AS i FROM png_b),
        |png AS (SELECT doc_id, 'png' AS media_type, n AS n_units,
        |  (max((doc_id * 2654435761 + i * 97) % 256) -
        |   min((doc_id * 2654435761 + i * 97) % 256))::BIGINT AS stat
        |  FROM png_g GROUP BY doc_id, n),
        |jpg_b AS (SELECT doc_id,
        |  ((n_chars % 24) + 9) * (((n_chars // 24) % 24) + 9) AS n,
        |  ((n_chars % 24) + 9 + 7) // 8 AS nbx,
        |  (((n_chars // 24) % 24) + 9 + 7) // 8 AS nby
        |  FROM documents WHERE doc_id % 4 = 1),
        |jpg_g AS (SELECT doc_id, n, nbx,
        |  unnest(generate_series(0, nbx * nby - 1)) AS bi FROM jpg_b),
        |jpg AS (SELECT doc_id, 'jpeg' AS media_type, n AS n_units,
        |  (max(floor(((((doc_id * 31 + (bi // nbx) * 5 + (bi % nbx) * 3) % 111) - 55) * 16 + 4) / 8.0)) -
        |   min(floor(((((doc_id * 31 + (bi // nbx) * 5 + (bi % nbx) * 3) % 111) - 55) * 16 + 4) / 8.0)))::BIGINT AS stat
        |  FROM jpg_g GROUP BY doc_id, n),
        |wav_b AS (SELECT doc_id, ((n_chars % 300) + 40) AS n
        |  FROM documents WHERE doc_id % 4 = 2),
        |wav_g AS (SELECT doc_id, n,
        |  unnest(generate_series(1, n - 1)) AS i FROM wav_b),
        |wav AS (SELECT doc_id, 'wav' AS media_type, n AS n_units,
        |  sum(CASE WHEN
        |    (((doc_id * 131 + i * 7919) % 65536 - 32768 >= 0) <>
        |     ((doc_id * 131 + (i - 1) * 7919) % 65536 - 32768 >= 0))
        |    THEN 1 ELSE 0 END)::BIGINT AS stat
        |  FROM wav_g GROUP BY doc_id, n),
        |opq AS (SELECT doc_id, 'opaque' AS media_type, 0 AS n_units,
        |  0::BIGINT AS stat FROM documents WHERE doc_id % 4 = 3),
        |u AS (SELECT * FROM png UNION ALL SELECT * FROM jpg
        |      UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM opq)
        |SELECT doc_id, media_type, n_units::INT AS n_units, stat,
        |  CASE media_type
        |    WHEN 'png' THEN stat >= 32 AND n_units >= 64
        |    WHEN 'jpeg' THEN stat >= 32 AND n_units >= 64
        |    WHEN 'wav' THEN n_units >= 100 AND stat >= 10
        |    ELSE FALSE END AS keep
        |FROM u""".stripMargin,

    "emb_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 20),
        |sc AS (SELECT q.query_id, c.vec_id AS nid, c.label,
        |  list_cosine_similarity(q.qv, c.embedding::DOUBLE[]) AS cos
        |  FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
        |rk AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos DESC, nid) AS rk FROM sc),
        |v AS (SELECT query_id, label, count(*) AS votes FROM rk WHERE rk <= 5
        |  GROUP BY query_id, label),
        |w AS (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS wr FROM v)
        |SELECT query_id, label AS predicted_label, votes FROM w WHERE wr = 1""".stripMargin,

    // ── round-2 oracle additions ────────────────────────────────────────
    "doc_lang_id" ->
      """WITH w AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS wd FROM documents),
        |h AS (SELECT doc_id,
        |  count(*) FILTER (WHERE wd IN ('the','and','of','to','is','that','with'))::INT AS en,
        |  count(*) FILTER (WHERE wd IN ('der','die','und','das','nicht','ist','ein'))::INT AS de,
        |  count(*) FILTER (WHERE wd IN ('le','la','les','et','est','une','que'))::INT AS fr,
        |  count(*) FILTER (WHERE wd IN ('el','los','las','es','una','que','para'))::INT AS es
        |FROM w GROUP BY doc_id),
        |b AS (SELECT doc_id, list_sort([
        |    struct_pack(h := de, l := 'de'), struct_pack(h := en, l := 'en'),
        |    struct_pack(h := es, l := 'es'), struct_pack(h := fr, l := 'fr')])[4] AS m FROM h)
        |SELECT d.doc_id, CASE WHEN m.h > 0 THEN m.l ELSE 'und' END AS lang_pred
        |FROM documents d LEFT JOIN b USING (doc_id)""".stripMargin,

    "doc_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, wd AS tok FROM (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^\p{L}]+')) AS wd
        |  FROM documents) WHERE wd <> ''),
        |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT sum(cnt)::DOUBLE AS total FROM counts),
        |vocab AS (SELECT tok, ln(cnt / (SELECT total FROM tot)) AS logp
        |  FROM counts ORDER BY cnt DESC, tok LIMIT 500),
        |scored AS (SELECT t.doc_id,
        |    coalesce(v.logp, ln(0.5 / (SELECT total FROM tot))) AS lp
        |  FROM toks t LEFT JOIN vocab v USING (tok)),
        |agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  round(avg(lp) + 1e-9, 6) AS avg_logp
        |FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        |  a.avg_logp
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "doc_simhash" ->
      s"""WITH ${simhashOracleCtes("documents")}
         |SELECT doc_id, simhash FROM sig""".stripMargin,

    // DSIR weights: full two-model replay (target + raw bucket LMs),
    // nothing pinned
    "doc_dsir_weights" ->
      s"""WITH ${dsirModelCtes(64)}
         |SELECT doc_id, n_grams, round(lw + 1e-9, 6) AS log_w
         |FROM scored""".stripMargin,

    // DSIR Gumbel top-k: deterministic fmix64 uniform → Gumbel keys,
    // ORDER BY key DESC LIMIT k mirrors Spark's TakeOrdered
    "doc_dsir_resample" ->
      s"""WITH ${dsirModelCtes(64)},
         |keyed AS (SELECT doc_id, n_grams, lw,
         |  lw - ln(-ln(${uniformSql("'dsir:' || doc_id::VARCHAR")})) AS gk
         |  FROM scored)
         |SELECT doc_id, n_grams, round(lw + 1e-9, 6) AS log_w,
         |  round(gk + 1e-9, 6) AS gumbel_key
         |FROM keyed ORDER BY gk DESC, doc_id LIMIT 100""".stripMargin,

    // the deterministic logistic refit must reproduce the pin exactly
    "doc_classifier_refit_audit" ->
      "SELECT 64::INT AS buckets, 0.0::DOUBLE AS max_abs_diff",

    // score-aware domain mix: DSIR scoring replayed from scratch, then
    // the per-source softmax (max-subtracted, T=2) and budget-300 quotas
    "doc_domain_mix" ->
      s"""WITH ${dsirModelCtes(64)},
         |src AS (SELECT s.doc_id, d.source, s.lw
         |  FROM scored s JOIN documents d USING (doc_id)),
         |dom AS (SELECT source, count(*)::BIGINT AS n_docs, avg(lw) AS ms
         |  FROM src GROUP BY source),
         |sm AS (SELECT *, exp((ms - max(ms) OVER ()) / 2.0) AS ee FROM dom),
         |w AS (SELECT *, ee / sum(ee) OVER () AS mw FROM sm)
         |SELECT source, n_docs, round(ms + 1e-9, 6) AS mean_score,
         |  round(mw + 1e-9, 6) AS mix_weight,
         |  floor(mw * 300 + 1e-9)::BIGINT AS quota
         |FROM w""".stripMargin,

    // Unicode normalization replay: same dirty prefix via chr() codes,
    // nfc_normalize (same UAX#15 NFC java.text.Normalizer implements),
    // then the identical RE2-safe regexp chain.
    // EXPLICIT CONTRACT (ADVICE r8): the control-strip class here starts
    // at \x{0001} while the engine's normalizeText strips from U+0000 —
    // DuckDB VARCHARs cannot hold NUL, so chr(0) can neither be injected
    // into the fixture nor matched in a pattern; the oracle therefore
    // verifies U+0001..U+0008 and the NUL case is covered engine-side only
    // (parquet text with embedded NUL still normalizes correctly).
    "doc_normalize" ->
      s"""WITH messy AS (SELECT doc_id,
         |  'Cafe' || chr(769) || ' du' || chr(160) || 'monde' || chr(8203) ||
         |  ' ' || chr(7) || ' line one ' || chr(13) || chr(10) || chr(9) ||
         |  'tab  end ' || text AS text FROM documents),
         |n AS (SELECT doc_id, text, trim(
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(
         |    regexp_replace(nfc_normalize(text), '\\r\\n?', chr(10), 'g'),
         |    '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]', '', 'g'),
         |    '[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]', ' ', 'g'),
         |    '[\\x{0001}-\\x{0008}\\x{000B}-\\x{001F}\\x{007F}]', '', 'g'),
         |    '[ \\t]+', ' ', 'g'),
         |    ' ?\\n ?', chr(10), 'g'),
         |    '^\\n+|\\n+$$', '', 'g')) AS norm_text FROM messy)
         |SELECT doc_id, norm_text, length(text)::BIGINT AS raw_len,
         |  length(norm_text)::BIGINT AS norm_len FROM n""".stripMargin,

    // pre-tokenization ground truth: the same lookahead-free gpt2
    // pattern in RE2, the chr(1)-joined stream FNV-fingerprinted (the
    // separator pins token BOUNDARIES — separator-less concatenation
    // would just reconstruct the text)
    "doc_pretokenize" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text,
         |  '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')
         |  AS toks FROM documents)
         |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  ${fnvSql("array_to_string(toks, chr(1))")} AS tok_fp,
         |  coalesce(list_max(list_transform(toks, x -> len(x))), 0)::BIGINT
         |    AS max_tok_len
         |FROM t""".stripMargin,

    // HTML extraction: the same regex/replace chain over the same
    // deterministically-marked-up corpus (htmlDocsSql twin). The regex
    // subset is chosen to mean the same thing under Java regex (Spark)
    // and RE2 (DuckDB): no backreferences, no lookarounds.
    "doc_html_strip" ->
      s"""WITH $htmlDocsSql,
         |s4 AS (SELECT doc_id,
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(text,
         |    '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
         |    '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
         |    '(?s)<!--.*?-->', ' ', 'g'),
         |    '(?i)</(p|h[1-6]|div|li|ul|ol|table|tr)>|<br\\b[^>]*>', chr(10), 'g')
         |  AS t FROM html),
         |s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
         |  FROM s4),
         |s6 AS (SELECT doc_id,
         |  replace(replace(replace(replace(replace(replace(replace(replace(t,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
         |    '&#39;', ''''), '&#34;', '"'), '&nbsp;', ' '), '&amp;', '&') AS t
         |  FROM s5),
         |s9 AS (SELECT doc_id,
         |  regexp_replace(
         |  regexp_replace(
         |  regexp_replace(t, '[ \\t\\r\\f]+', ' ', 'g'),
         |    ' *\\n[ \\n]*', chr(10), 'g'),
         |    '(^\\s+)|(\\s+$$)', '', 'g') AS t FROM s6)
         |SELECT doc_id, t AS text, length(t)::BIGINT AS text_len FROM s9""".stripMargin,

    // pack materialization: shard/offset plan + per-token placement +
    // ordered id aggregation replayed end to end
    "doc_pack_execute" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')
         |  AS toks FROM documents),
         |p AS (SELECT doc_id,
         |  (((${fnvSql("doc_id::VARCHAR")}) % 8) + 8) % 8 AS shard,
         |  len(toks) AS n FROM t),
         |cum AS (SELECT doc_id, shard,
         |  sum(n) OVER (PARTITION BY shard ORDER BY doc_id) - n AS start_tok
         |  FROM p),
         |tok AS (SELECT doc_id, i - 1 AS ti, toks[i::INT] AS tk
         |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
         |off AS (SELECT c.shard, c.start_tok + k.ti AS o,
         |  (((${fnvSql("tk")}) % 32768) + 32768) % 32768 AS tid
         |  FROM tok k JOIN cum c USING (doc_id))
         |SELECT shard, (o // 128)::BIGINT AS seq_index,
         |  count(*)::BIGINT AS n_tokens,
         |  string_agg(tid::VARCHAR, ',' ORDER BY o) AS token_ids
         |FROM off GROUP BY shard, (o // 128)""".stripMargin,

    // semantic decontamination: exact all-pairs max-cosine replay
    "emb_semantic_decontam" ->
      """WITH b AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings
        |  WHERE vec_id % 25 = 0),
        |sc AS (SELECT e.vec_id,
        |    max(list_cosine_similarity(e.embedding::DOUBLE[], b.bv)) AS mx
        |  FROM embeddings e CROSS JOIN b GROUP BY e.vec_id)
        |SELECT vec_id, round(mx + 1e-9, 6) AS max_bench_cosine,
        |  mx >= 0.9 AS contaminated
        |FROM sc""".stripMargin,

    // span dedup: full replay — windows, cross-doc frequency,
    // gaps-and-islands run detection, interval-union word removal,
    // ordered reassembly
    "doc_span_dedup" ->
      s"""WITH msy AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN text ||
         |    ' the quick brown fox jumps over the lazy dog today'
         |  ELSE text END AS text FROM documents),
         |wsd AS (SELECT doc_id,
         |  list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')
         |  AS words FROM msy),
         |lws AS (SELECT doc_id,
         |  list_transform(words, w -> lower(w)) AS lw FROM wsd),
         |wins AS (SELECT doc_id, i - 1 AS pos,
         |    array_to_string(lw[i::INT:(i + 4)::INT], ' ') AS gram
         |  FROM lws, unnest(generate_series(1, greatest(len(lw) - 4, 0))) AS u(i)),
         |freq AS (SELECT gram FROM wins GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= 2),
         |dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN freq USING (gram)),
         |isl AS (SELECT doc_id, pos, pos - row_number()
         |  OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dup),
         |runs AS (SELECT doc_id, min(pos) AS a, max(pos) AS b FROM isl
         |  GROUP BY doc_id, grp HAVING count(*) >= 4),
         |rem AS (SELECT DISTINCT r.doc_id, u.i AS pos
         |  FROM runs r, unnest(generate_series(r.a, r.b + 4)) AS u(i)),
         |wpos AS (SELECT doc_id, i - 1 AS pos, words[i::INT] AS w
         |  FROM wsd, unnest(generate_series(1, len(words))) AS u(i))
         |SELECT w.doc_id, count(*)::BIGINT AS n_words,
         |  count(*) FILTER (WHERE r.pos IS NOT NULL)::BIGINT AS n_removed_words,
         |  coalesce(string_agg(CASE WHEN r.pos IS NULL THEN w.w END,
         |    ' ' ORDER BY w.pos), '') AS clean_text
         |FROM wpos w LEFT JOIN rem r ON w.doc_id = r.doc_id AND w.pos = r.pos
         |GROUP BY w.doc_id""".stripMargin,

    // RefinedWeb line dedup: full replay — lined-corpus reconstruction,
    // cross-doc line document-frequency, drop lines in >= 2 distinct docs,
    // rebuild surviving text in original line order
    "doc_line_dedup" ->
      s"""WITH $linedDocsSql,
         |lsrc AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM lined),
         |lines AS (SELECT doc_id, i::INT AS pos, parts[i::INT] AS line,
         |    trim(parts[i::INT]) AS tl
         |  FROM lsrc, unnest(generate_series(1, len(parts))) AS u(i)),
         |freq AS (SELECT tl FROM lines WHERE tl <> ''
         |  GROUP BY tl HAVING count(DISTINCT doc_id) >= 2),
         |marked AS (SELECT l.doc_id, l.pos, l.line,
         |    (f.tl IS NOT NULL) AS dropd
         |  FROM lines l LEFT JOIN freq f ON l.tl = f.tl)
         |SELECT doc_id, count(*)::BIGINT AS n_lines,
         |  count(*) FILTER (WHERE dropd)::BIGINT AS n_removed,
         |  coalesce(string_agg(CASE WHEN NOT dropd THEN line END, chr(10)
         |    ORDER BY pos), '') AS clean_text
         |FROM marked GROUP BY doc_id""".stripMargin,

    // cross-perplexity: target-slice KN fit + all-docs scoring with the
    // continuation backoff and 0.5/B floor replayed from scratch
    "doc_kn_target_ppl" ->
      s"""WITH ws AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |    w -> w <> '') AS ws FROM documents),
         |pairs AS (SELECT doc_id,
         |  (((${fnvSql("ws[i::INT]")}) % 2048) + 2048) % 2048 AS bv,
         |  (((${fnvSql("ws[(i + 1)::INT]")}) % 2048) + 2048) % 2048 AS bw
         |  FROM ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)),
         |tp AS (SELECT p.* FROM pairs p JOIN documents d USING (doc_id)
         |  WHERE d.lang = 'en'),
         |cbg AS (SELECT bv, bw, count(*) AS cvw FROM tp GROUP BY bv, bw),
         |ctx AS (SELECT bv, sum(cvw)::DOUBLE AS cv, count(*) AS n1f
         |  FROM cbg GROUP BY bv),
         |cont AS (SELECT bw, count(*) AS n1b FROM cbg GROUP BY bw),
         |btot AS (SELECT count(*)::DOUBLE AS b FROM cbg),
         |sp AS (SELECT p.doc_id,
         |  CASE WHEN m.cvw IS NOT NULL THEN
         |    ln((m.cvw - 0.75) / c.cv + 0.75 * c.n1f / c.cv * n.n1b / t.b)
         |  ELSE ln(greatest(
         |    CASE WHEN c.bv IS NOT NULL
         |      THEN 0.75 * c.n1f / c.cv * (coalesce(n.n1b, 0) / t.b)
         |      ELSE coalesce(n.n1b, 0) / t.b END,
         |    0.5 / t.b)) END AS lp
         |  FROM pairs p
         |  LEFT JOIN cbg m ON p.bv = m.bv AND p.bw = m.bw
         |  LEFT JOIN ctx c ON p.bv = c.bv
         |  LEFT JOIN cont n ON p.bw = n.bw
         |  CROSS JOIN btot t),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n, avg(lp) AS al
         |  FROM sp GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n, 0)::BIGINT AS n_bigrams,
         |  round(a.al + 1e-9, 6) AS avg_logp,
         |  round(exp(-a.al) + 1e-9, 6) AS ppl
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // CCNet bigram-KN perplexity: full model replay (hashed bigram counts,
    // context/continuation tables, interpolated-KN log-probs), per-doc
    // perplexity, binned-histogram tercile buckets
    "doc_kn_perplexity" ->
      s"""WITH ws AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |    w -> w <> '') AS ws FROM documents),
         |pairs AS (SELECT doc_id,
         |  (((${fnvSql("ws[i::INT]")}) % 4096) + 4096) % 4096 AS bv,
         |  (((${fnvSql("ws[(i + 1)::INT]")}) % 4096) + 4096) % 4096 AS bw
         |  FROM ws, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)),
         |cbg AS (SELECT bv, bw, count(*) AS cvw FROM pairs GROUP BY bv, bw),
         |ctx AS (SELECT bv, sum(cvw)::DOUBLE AS cv, count(*) AS n1f
         |  FROM cbg GROUP BY bv),
         |cont AS (SELECT bw, count(*) AS n1b FROM cbg GROUP BY bw),
         |btot AS (SELECT count(*)::DOUBLE AS b FROM cbg),
         |model AS (SELECT bv, bw,
         |    ln((cvw - 0.75) / cv + 0.75 * n1f / cv * n1b / b) AS logp
         |  FROM cbg JOIN ctx USING (bv) JOIN cont USING (bw), btot),
         |scored AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |    avg(logp) AS avg_logp, exp(-avg(logp)) AS ppl
         |  FROM pairs JOIN model USING (bv, bw) GROUP BY doc_id),
         |bins AS (SELECT round(ppl, 3) AS bin, count(*) AS c
         |  FROM scored GROUP BY 1),
         |cum AS (SELECT bin,
         |    sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW)::DOUBLE / (SELECT sum(c) FROM bins) AS cumf
         |  FROM bins),
         |th AS (SELECT min(CASE WHEN cumf >= 1.0/3 THEN bin END) AS t1,
         |    min(CASE WHEN cumf >= 2.0/3 THEN bin END) AS t2 FROM cum)
         |SELECT d.doc_id, coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  round(s.avg_logp + 1e-9, 6) AS avg_logp,
         |  round(s.ppl + 1e-9, 6) AS ppl,
         |  CASE WHEN s.doc_id IS NULL THEN 'na'
         |    WHEN round(s.ppl, 3) <= t.t1 THEN 'head'
         |    WHEN round(s.ppl, 3) <= t.t2 THEN 'middle'
         |    ELSE 'tail' END AS bucket
         |FROM documents d LEFT JOIN scored s USING (doc_id), th t""".stripMargin,

    "doc_simhash_pairs" -> simhashPairsOracleSql,
    "doc_simhash_incremental" ->
      s"""SELECT * FROM ($simhashPairsOracleSql) __full
         |WHERE id_a >= 100000 OR id_b >= 100000""".stripMargin,

    "doc_ngram_jaccard" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000 AS doc_id,
        |    text || ' near duplicate suffix' AS text FROM documents),
        |w AS (SELECT doc_id,
        |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM corpus),
        |g AS (SELECT doc_id, list_distinct(list_filter(
        |    list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
        |      i -> array_to_string(ws[i:i+2], ' ')), x -> len(x) > 0)) AS grams FROM w),
        |p AS (SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents WHERE doc_id < 200)
        |SELECT p.id_a, p.id_b,
        |  round(len(list_intersect(a.grams, b.grams))::DOUBLE /
        |        len(list_distinct(list_concat(a.grams, b.grams)))::DOUBLE, 6) AS jaccard
        |FROM p JOIN g a ON a.doc_id = p.id_a JOIN g b ON b.doc_id = p.id_b""".stripMargin,

    "ts_outlier_treat_interp" ->
      s"""WITH st AS (SELECT user_id, event_id, ts, value,
         |  avg(value) OVER (PARTITION BY user_id) AS mu,
         |  stddev_samp(value) OVER (PARTITION BY user_id) AS sd FROM events),
         |base AS (SELECT user_id, event_id, ts,
         |  CASE WHEN value IS NOT NULL AND (value < mu - 2.0 * sd OR value > mu + 2.0 * sd)
         |    THEN NULL ELSE value END AS v,
         |  (row_number() OVER ($W))::DOUBLE AS rn FROM st),
         |f AS (SELECT *,
         |  last_value(v IGNORE NULLS) OVER wb AS pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wb AS pi,
         |  last_value(v IGNORE NULLS) OVER wf AS nv,
         |  last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wf AS ni
         |FROM base WINDOW
         |  wb AS ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id,
         |  round(CASE WHEN v IS NOT NULL THEN v
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) * (rn - pi) / (ni - pi)
         |    ELSE coalesce(pv, nv) END, 6) AS value
         |FROM f""".stripMargin,

    "ts_strength_features" ->
      s"""WITH b AS (SELECT user_id, event_id, value,
         |  (row_number() OVER ($W) - 1) % 24 AS phase,
         |  CASE WHEN count(value) OVER wf >= 24 THEN avg(value) OVER wf END AS trend
         |FROM events WINDOW wf AS ($W ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
         |det AS (SELECT *, value - trend AS detr FROM b),
         |pm AS (SELECT user_id, phase, avg(detr) AS pmean FROM det GROUP BY user_id, phase),
         |ctr AS (SELECT user_id, phase,
         |  pmean - avg(pmean) OVER (PARTITION BY user_id) AS seasonal FROM pm),
         |j AS (SELECT d.user_id, d.trend, c.seasonal, d.detr - c.seasonal AS resid
         |  FROM det d JOIN ctr c ON d.user_id = c.user_id AND d.phase = c.phase)
         |SELECT user_id,
         |  round(greatest(0.0, 1.0 - var_samp(resid) / var_samp(trend + resid)) + 1e-9, 6) AS trend_strength,
         |  round(greatest(0.0, 1.0 - var_samp(resid) / var_samp(seasonal + resid)) + 1e-9, 6) AS seasonal_strength,
         |  round(var_samp(resid) + 1e-9, 6) AS resid_var
         |FROM j WHERE trend IS NOT NULL AND resid IS NOT NULL GROUP BY user_id""".stripMargin,

    // Durbin-Levinson recursion unrolled for maxLag=5 (AcfKernels.pacf);
    // subtractions kept sequential to mirror the kernel's float order.
    "ts_pacf" ->
      s"""WITH s AS (SELECT user_id, value, row_number() OVER ($W) AS rn FROM events),
         |m AS (SELECT user_id, avg(value) AS mu FROM events GROUP BY user_id),
         |den AS (SELECT s.user_id, sum((s.value - m.mu) * (s.value - m.mu)) AS den
         |  FROM s JOIN m USING (user_id) GROUP BY s.user_id),
         |pr AS (SELECT a.user_id, ks.k, sum((a.value - m.mu) * (b.value - m.mu)) AS num
         |  FROM s a CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS k) ks
         |  JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + ks.k
         |  JOIN m ON m.user_id = a.user_id GROUP BY a.user_id, ks.k),
         |r AS (SELECT p.user_id,
         |  max(CASE WHEN k = 1 THEN num END) / max(d.den) AS r1,
         |  max(CASE WHEN k = 2 THEN num END) / max(d.den) AS r2,
         |  max(CASE WHEN k = 3 THEN num END) / max(d.den) AS r3,
         |  max(CASE WHEN k = 4 THEN num END) / max(d.den) AS r4,
         |  max(CASE WHEN k = 5 THEN num END) / max(d.den) AS r5
         |  FROM pr p JOIN den d ON p.user_id = d.user_id GROUP BY p.user_id),
         |d1 AS (SELECT *, r1 AS p1 FROM r),
         |d2 AS (SELECT *, (r2 - p1 * r1) / (1.0 - p1 * r1) AS p2 FROM d1),
         |d2b AS (SELECT *, p1 - p2 * p1 AS q21 FROM d2),
         |d3 AS (SELECT *, ((r3 - q21 * r2) - p2 * r1) / ((1.0 - q21 * r1) - p2 * r2) AS p3 FROM d2b),
         |d3b AS (SELECT *, q21 - p3 * p2 AS q31, p2 - p3 * q21 AS q32 FROM d3),
         |d4 AS (SELECT *, (((r4 - q31 * r3) - q32 * r2) - p3 * r1) /
         |  (((1.0 - q31 * r1) - q32 * r2) - p3 * r3) AS p4 FROM d3b),
         |d4b AS (SELECT *, q31 - p4 * p3 AS q41, q32 - p4 * q32 AS q42, p3 - p4 * q31 AS q43 FROM d4),
         |d5 AS (SELECT *, ((((r5 - q41 * r4) - q42 * r3) - q43 * r2) - p4 * r1) /
         |  ((((1.0 - q41 * r1) - q42 * r2) - q43 * r3) - p4 * r4) AS p5 FROM d4b)
         |SELECT user_id, l.lag,
         |  round(CASE l.lag WHEN 0 THEN 1.0 WHEN 1 THEN p1 WHEN 2 THEN p2
         |    WHEN 3 THEN p3 WHEN 4 THEN p4 ELSE p5 END + 1e-9, 6) AS pacf
         |FROM d5 CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS lag) l""".stripMargin,

    // Ets.holt as a sequential list fold — bit-identical to the kernel.
    "ts_holt_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn FROM events),
         |v AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM o GROUP BY user_id),
         |st AS (SELECT user_id, list_reduce(
         |  list_prepend([vs[1], vs[2] - vs[1]], list_transform(vs[2:], w -> [w, 0.0::DOUBLE])),
         |  (acc, x) -> [$holtL,
         |    0.1 * (($holtL) - acc[1]) + (1.0::DOUBLE - 0.1) * acc[2]]) AS st FROM v),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT t.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(t.st[1] + s.step * t.st[2], 6) AS y_hat
         |FROM st t JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    // Ets.holtWinters additive (m=24) as a sequential list fold.
    "ts_hw_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn FROM events),
         |v AS (SELECT user_id, list(value ORDER BY rn) AS vs, count(*)::INT AS n
         |  FROM o GROUP BY user_id),
         |ini AS (SELECT user_id, vs, n,
         |  list_reduce(vs[1:24], (a, b) -> a + b) / 24 AS avg1,
         |  list_reduce(vs[25:48], (a, b) -> a + b) / 24 AS avg2 FROM v),
         |st AS (SELECT user_id, n, list_reduce(
         |  list_prepend(
         |    list_concat([avg1, (avg2 - avg1) / 24], list_transform(vs[1:24], w -> w - avg1)),
         |    list_transform(generate_series(25, n), i -> [vs[i], (i - 1)::DOUBLE])),
         |  (acc, x) -> $hwAcc) AS st FROM ini),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT t.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(t.st[1] + s.step * t.st[2] + t.st[((t.n - 1 + s.step) % 24) + 3], 6) AS y_hat
         |FROM st t JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin,

    // Kalman forward filter + RTS smoother as two sequential folds.
    "ts_kalman" ->
      s"""WITH o AS (SELECT user_id, value, ts, row_number() OVER ($W) AS rn FROM events),
         |g AS (SELECT user_id, list(value ORDER BY rn) AS vs, count(*)::INT AS n
         |  FROM o GROUP BY user_id),
         |fwd AS (SELECT user_id, n, list_reduce(
         |  list_prepend([vs[1], 1.0::DOUBLE], list_transform(vs, w -> [w, 0.0::DOUBLE])),
         |  (acc, x) -> $kfAcc) AS f FROM g),
         |bwd AS (SELECT user_id, n, f, list_reduce(
         |  list_prepend([f[4 * n - 1]],
         |    list_transform(generate_series(n - 1, 1, -1), t -> [t::DOUBLE])),
         |  (acc, x) -> list_prepend(
         |    f[4 * (x[1]::INT) - 1] + (f[4 * (x[1]::INT)] / f[4 * (x[1]::INT) + 6]) *
         |      (acc[1] - f[4 * (x[1]::INT) + 5]), acc)) AS sm FROM fwd)
         |SELECT o.user_id, o.ts,
         |  round(b.f[4 * o.rn - 1] + 1e-9, 6) AS filtered,
         |  round(b.sm[o.rn] + 1e-9, 6) AS smoothed
         |FROM o JOIN bwd b USING (user_id)""".stripMargin,

    // Expanding-window backtest of the naive forecaster (folds=2, h=12).
    "ts_backtest_naive" ->
      """WITH tm AS (SELECT ts, row_number() OVER (ORDER BY ts) AS tidx
        |  FROM (SELECT DISTINCT ts FROM events)),
        |nt AS (SELECT max(tidx) AS nt FROM tm),
        |e AS (SELECT ev.user_id, ev.event_id, ev.ts, ev.value, t.tidx, n.nt
        |  FROM events ev JOIN tm t ON ev.ts = t.ts CROSS JOIN nt n),
        |marked AS (SELECT e.*, f.fold,
        |  CASE WHEN tidx <= nt - (2 - fold) * 12 THEN 'train'
        |       WHEN tidx > nt - (2 - fold) * 12 AND tidx <= nt - (2 - fold) * 12 + 12
        |       THEN 'test' END AS split
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 1))::INT AS fold) f),
        |tr AS (SELECT fold, user_id, value, row_number() OVER
        |  (PARTITION BY fold, user_id ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM marked WHERE split = 'train'),
        |fc AS (SELECT fold, user_id, value AS y_hat FROM tr WHERE rk = 1),
        |te AS (SELECT fold, user_id, value, row_number() OVER
        |  (PARTITION BY fold, user_id ORDER BY ts, event_id) AS step
        |  FROM marked WHERE split = 'test'),
        |j AS (SELECT te.fold, te.value, fc.y_hat FROM te
        |  JOIN fc ON te.fold = fc.fold AND te.user_id = fc.user_id WHERE te.step <= 12)
        |SELECT fold, round(avg(abs(value - y_hat)), 6) AS mae,
        |  round(sqrt(avg((value - y_hat) * (value - y_hat))), 6) AS rmse,
        |  count(*) AS n
        |FROM j GROUP BY fold""".stripMargin,

    // MinHash-LSH: FNV shingle hashes (HUGEINT fold per 5-gram row), the
    // SAME (a, b) permutation constants as the Spark kernel (generated by
    // the shared Dedup.minhashParams), band join on raw signature slices.
    "doc_minhash_lsh" -> minhashLshOracleSql,
    "doc_minhash_incremental" ->
      s"""SELECT * FROM ($minhashLshOracleSql) __full
         |WHERE id_a >= 100000 OR id_b >= 100000""".stripMargin,

    // Gopher repetition signals: line metrics via list ops, top-ngram via
    // unnest + group-by max of count·word-chars (gram chars exclude the
    // n−1 separators, matching the kernel)
    "doc_repetition" -> {
      def topN(n: Int) = {
        val gram = (1 to n).map(j => s"words[(i + ${j - 1})::INT]").mkString(" || ' ' || ")
        s"""(SELECT doc_id, max(c * chars) AS best FROM (
           |  SELECT doc_id, gram, count(*) AS c, len(gram) - ${n - 1} AS chars FROM (
           |    SELECT doc_id, $gram AS gram
           |    FROM w, unnest(generate_series(1, greatest(len(words) - ${n - 1}, 0))) AS t(i))
           |  GROUP BY doc_id, gram) GROUP BY doc_id)""".stripMargin
      }
      s"""WITH l AS (SELECT doc_id,
         |  list_filter(list_transform(split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
         |  FROM documents),
         |w AS (SELECT doc_id,
         |  list_filter(split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
         |    x -> x <> '') AS words FROM documents),
         |lc AS (SELECT doc_id,
         |  len(lines) AS nl, len(list_distinct(lines)) AS nd,
         |  list_sum(list_transform(lines, x -> len(x))) AS ca,
         |  list_sum(list_transform(list_distinct(lines), x -> len(x))) AS cd
         |  FROM l),
         |tc AS (SELECT doc_id, list_sum(list_transform(words, x -> len(x))) AS tot FROM w),
         |t2 AS ${topN(2)},
         |t3 AS ${topN(3)}
         |SELECT lc.doc_id,
         |  round(CASE WHEN nl > 0 THEN 1.0 - nd::DOUBLE / nl ELSE 0.0 END + 1e-9, 6) AS dup_line_frac,
         |  round(CASE WHEN ca > 0 THEN 1.0 - cd::DOUBLE / ca ELSE 0.0 END + 1e-9, 6) AS dup_line_char_frac,
         |  round(CASE WHEN tc.tot > 0 THEN coalesce(t2.best, 0)::DOUBLE / tc.tot ELSE 0.0 END + 1e-9, 6) AS top2gram_char_frac,
         |  round(CASE WHEN tc.tot > 0 THEN coalesce(t3.best, 0)::DOUBLE / tc.tot ELSE 0.0 END + 1e-9, 6) AS top3gram_char_frac
         |FROM lc JOIN tc USING (doc_id)
         |LEFT JOIN t2 ON t2.doc_id = lc.doc_id
         |LEFT JOIN t3 ON t3.doc_id = lc.doc_id""".stripMargin
    },

    // decontamination: distinct 5-grams per doc, bench = every 20th doc,
    // count of a doc's grams that appear anywhere in the bench set
    "doc_decontaminate" -> {
      val gram5 = (0 until 5).map(j => s"words[(i + $j)::INT]").mkString(" || ' ' || ")
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
         |    x -> x <> '') AS words FROM documents),
         |g AS (SELECT doc_id, $gram5 AS gram
         |  FROM w, unnest(generate_series(1, greatest(len(words) - 4, 0))) AS t(i)),
         |tg AS (SELECT DISTINCT doc_id, gram FROM g),
         |bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 20 = 0),
         |ov AS (SELECT tg.doc_id, count(*) AS c FROM tg JOIN bg USING (gram)
         |  GROUP BY tg.doc_id)
         |SELECT d.doc_id, coalesce(ov.c, 0)::BIGINT AS n_overlap,
         |  coalesce(ov.c, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN ov USING (doc_id)""".stripMargin
    },

    // Bloom pre-filter + exact verify ≡ exact overlap (no false
    // negatives), so the bloom query replays against the SAME exact SQL —
    // the strongest possible check that the pre-filter loses nothing
    "doc_decontam_bloom" -> {
      val gram5 = (0 until 5).map(j => s"words[(i + $j)::INT]").mkString(" || ' ' || ")
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
         |    x -> x <> '') AS words FROM documents),
         |g AS (SELECT doc_id, $gram5 AS gram
         |  FROM w, unnest(generate_series(1, greatest(len(words) - 4, 0))) AS t(i)),
         |tg AS (SELECT DISTINCT doc_id, gram FROM g),
         |bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 20 = 0),
         |ov AS (SELECT tg.doc_id, count(*) AS c FROM tg JOIN bg USING (gram)
         |  GROUP BY tg.doc_id)
         |SELECT d.doc_id, coalesce(ov.c, 0)::BIGINT AS n_overlap,
         |  coalesce(ov.c, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN ov USING (doc_id)""".stripMargin
    },

    "doc_chunk_plan" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n
        |  FROM documents)
        |SELECT doc_id, n AS n_tokens, i AS chunk_id,
        |  (i * 48)::BIGINT AS start_tok,
        |  least(i * 48 + 64, n)::BIGINT AS end_tok
        |FROM t, unnest(generate_series(0,
        |  greatest(0, ceil((n - 64) / 48.0)::BIGINT))) AS u(i)""".stripMargin,

    "emb_quantize_sq" -> {
      val code = "CASE WHEN scales[i] = 0.0 THEN 0 ELSE " +
        "least(255.0, greatest(0.0, floor((v[i] - mins[i]) / scales[i] + 0.5)))::INT END"
      val recon = "(v[i] - (mins[i] + codes[i] * scales[i]))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |d AS (SELECT t.i AS i, min(v[t.i]) AS mn,
         |    (max(v[t.i]) - min(v[t.i])) / 255.0 AS sc
         |  FROM e, unnest(generate_series(1, 64)) AS t(i) GROUP BY t.i),
         |m AS (SELECT list(mn ORDER BY i) AS mins, list(sc ORDER BY i) AS scales FROM d),
         |q AS (SELECT vec_id, v,
         |    list_transform(generate_series(1, 64), i -> $code) AS codes
         |  FROM e CROSS JOIN m)
         |SELECT vec_id,
         |  array_to_string(codes, ',') AS codes,
         |  round(list_sum(list_transform(generate_series(1, 64),
         |    i -> $recon * $recon)) / 64.0 + 1e-9, 6) AS mse
         |FROM q CROSS JOIN m""".stripMargin
    },

    "doc_pack_plan" ->
      s"""WITH t AS (SELECT doc_id,
         |  ((${fnvSql("doc_id::VARCHAR")} % 8) + 8) % 8 AS shard,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens::BIGINT AS n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING)::BIGINT AS end_tok FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  (end_tok - n_tokens)::BIGINT AS start_tok, end_tok,
         |  floor((end_tok - n_tokens) / 128.0)::BIGINT AS first_seq,
         |  floor((end_tok - 1) / 128.0)::BIGINT AS last_seq
         |FROM c""".stripMargin,

    "doc_dup_ngram_coverage" -> {
      val gram5 = (0 until 5).map(j => s"words[(i + $j)::INT]").mkString(" || ' ' || ")
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
         |w AS (SELECT doc_id,
         |  list_filter(split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
         |    x -> x <> '') AS words FROM corpus),
         |g AS (SELECT doc_id, $gram5 AS gram
         |  FROM w, unnest(generate_series(1, greatest(len(words) - 4, 0))) AS t(i)),
         |freq AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram),
         |agg AS (SELECT g.doc_id, count(*) AS nw,
         |    count(*) FILTER (WHERE f.nd > 1) AS dw
         |  FROM g JOIN freq f USING (gram) GROUP BY g.doc_id),
         |fr AS (SELECT c.doc_id, coalesce(a.nw, 0) AS nw, coalesce(a.dw, 0) AS dw,
         |  CASE WHEN coalesce(a.nw, 0) > 0 THEN a.dw / a.nw::DOUBLE ELSE 0.0 END AS f
         |  FROM corpus c LEFT JOIN agg a USING (doc_id))
         |SELECT doc_id, nw::BIGINT AS n_windows, dw::BIGINT AS dup_windows,
         |  round(f + 1e-9, 6) AS dup_frac, f > 0.2 AS flagged
         |FROM fr""".stripMargin
    },

    // counts follow the progressive-redaction contract: each class is
    // counted on the text its pass actually sees (r9 review fix)
    "doc_pii" ->
      s"""WITH a AS (SELECT doc_id, $synthPiiSql AS text FROM documents),
         |s1 AS (SELECT doc_id, text,
         |  regexp_replace(text, '${TextOps.emailRegex}', '[EMAIL]', 'g') AS r1
         |  FROM a),
         |s2 AS (SELECT doc_id, text, r1,
         |  regexp_replace(r1, '${TextOps.ipv4Regex}', '[IP]', 'g') AS r2
         |  FROM s1),
         |r AS (SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextOps.emailRegex}')) AS n_emails,
         |  len(regexp_extract_all(r1, '${TextOps.ipv4Regex}')) AS n_ipv4,
         |  len(regexp_extract_all(r2, '${TextOps.phoneRegex}')) AS n_phones,
         |  regexp_replace(r2, '${TextOps.phoneRegex}', '[PHONE]', 'g') AS red
         |  FROM s2)
         |SELECT doc_id, n_emails::BIGINT AS n_emails, n_ipv4::BIGINT AS n_ipv4,
         |  n_phones::BIGINT AS n_phones,
         |  (n_emails + n_ipv4 + n_phones) > 0 AS pii_flag,
         |  len(red)::BIGINT AS redacted_len
         |FROM r""".stripMargin,

    "doc_line_filters" ->
      s"""WITH a AS (SELECT doc_id, $synthLineSql AS text FROM documents),
         |l AS (SELECT doc_id, text,
         |  list_filter(list_transform(split(text, chr(10)), x -> trim(x)),
         |    x -> x <> '') AS lines FROM a),
         |m AS (SELECT doc_id, text, lines, len(lines) AS nl,
         |  list_sum(list_transform(lines,
         |    x -> len(regexp_extract_all(x, '\\S+')))) AS words_total,
         |  list_filter(lines, x -> regexp_matches(x, '[.!?]$$')
         |    AND len(regexp_extract_all(x, '\\S+')) >= 3) AS kept
         |  FROM l)
         |SELECT doc_id, nl::BIGINT AS n_lines,
         |  round(CASE WHEN nl > 0 THEN len(list_filter(lines,
         |    x -> regexp_matches(x, '[.!?]$$')))::DOUBLE / nl ELSE 0.0 END + 1e-9, 6)
         |    AS terminal_punct_frac,
         |  round(CASE WHEN nl > 0 THEN len(list_filter(lines,
         |    x -> regexp_matches(x, '^[-*•] ')))::DOUBLE / nl ELSE 0.0 END + 1e-9, 6)
         |    AS bullet_frac,
         |  round(CASE WHEN nl > 0 THEN len(list_filter(lines,
         |    x -> x LIKE '%...'))::DOUBLE / nl ELSE 0.0 END + 1e-9, 6) AS ellipsis_frac,
         |  round(CASE WHEN nl > 0 THEN words_total::DOUBLE / nl ELSE 0.0 END + 1e-9, 6)
         |    AS mean_line_words,
         |  text LIKE '%{%' AS has_brace,
         |  lower(text) LIKE '%lorem ipsum%' AS has_lorem,
         |  coalesce(len(array_to_string(kept, chr(10))), 0)::BIGINT AS clean_len
         |FROM m""".stripMargin,

    "doc_cms_heavy" -> {
      val depth = 4; val width = 512
      def slot(i: Int) = {
        val h = fnvSql(s"'cms$i:' || token")
        s"((($h % $width) + $width) % $width)"
      }
      val sketchRows = (0 until depth).map(i =>
        s"SELECT $i AS row, ${slot(i)} AS slot FROM t").mkString(" UNION ALL ")
      val probeRows = (0 until depth).map(i =>
        s"SELECT token, exact, $i AS row, ${slot(i)} AS slot FROM exact")
        .mkString(" UNION ALL ")
      s"""WITH tk AS (SELECT unnest(regexp_split_to_array(lower(text),
         |    '[^a-z0-9]+')) AS token FROM documents),
         |t AS (SELECT token FROM tk WHERE token <> ''),
         |cms AS (SELECT row, slot, count(*)::BIGINT AS cnt FROM
         |  ($sketchRows) GROUP BY row, slot),
         |exact AS (SELECT token, count(*)::BIGINT AS exact FROM t GROUP BY token),
         |pe AS ($probeRows),
         |j AS (SELECT token, exact, min(cnt) AS est
         |  FROM pe JOIN cms USING (row, slot) GROUP BY token, exact),
         |tot AS (SELECT count(*)::BIGINT AS n FROM t)
         |SELECT token, est, exact FROM j, tot WHERE est >= n * 0.01""".stripMargin
    },

    "doc_hll_distinct" -> {
      val m = 256; val mask = 72057594037927936L // 2^56
      val alpha2 = "%.17e".format(0.7213 / (1.0 + 1.079 / m) * m.toDouble * m)
      s"""WITH tk AS (SELECT source, unnest(regexp_split_to_array(lower(text),
         |    '[^a-z0-9]+')) AS token FROM documents),
         |t AS (SELECT source, token FROM tk WHERE token <> ''),
         |h0 AS (SELECT source, ${fnvUSql("token")} AS hu0 FROM t),
         |h AS (SELECT source, ${StochOracle.mixSql("hu0")} AS hu FROM h0),
         |rr AS (SELECT source, (hu // $mask)::BIGINT AS register,
         |  CASE WHEN (hu % $mask) = 0 THEN 57
         |       ELSE 57 - length(bin((hu % $mask)::BIGINT)) END AS rho FROM h),
         |regs AS (SELECT source, register, max(rho) AS max_rank
         |  FROM rr GROUP BY source, register),
         |agg AS (SELECT source, count(*)::BIGINT AS present,
         |  sum(power(0.5, max_rank)) AS zsum FROM regs GROUP BY source),
         |fin AS (SELECT source, $m - present AS zero_registers,
         |  CASE WHEN $alpha2 / (zsum + ($m - present)) <= ${2.5 * m}
         |         AND $m - present > 0
         |       THEN $m.0 * ln($m.0 / ($m - present))
         |       ELSE $alpha2 / (zsum + ($m - present)) END AS est0 FROM agg),
         |ex AS (SELECT source, count(DISTINCT token)::BIGINT AS exact
         |  FROM t GROUP BY source)
         |SELECT f.source, f.zero_registers, round(f.est0 + 1e-9, 6) AS est,
         |  ex.exact,
         |  round(abs(round(f.est0 + 1e-9, 6) - ex.exact) / ex.exact + 1e-9, 6)
         |    AS rel_err
         |FROM fin f JOIN ex ON f.source = ex.source""".stripMargin
    },

    "doc_corpus_stats" ->
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(len(regexp_extract_all(trim(text), '\\S+')))::BIGINT AS total_tokens,
         |  round(avg(len(text)) + 1e-9, 6) AS avg_chars,
         |  round(quantile_cont(len(text), 0.5) + 1e-9, 6) AS p50_chars,
         |  max(len(text))::BIGINT AS max_chars
         |FROM documents GROUP BY source""".stripMargin,

    "doc_dedup_canonical" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
        |norm AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM corpus)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY t) AS canonical_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY t) AS is_canonical
        |FROM norm""".stripMargin,

    // full curation funnel: every gate replayed on the planted corpus,
    // first-failing-gate CASE in the same order as the Spark when-chain
    "doc_curation_pipeline" -> {
      val gram5 = (0 until 5).map(j => s"words[(i + $j)::INT]").mkString(" || ' ' || ")
      s"""WITH a AS (SELECT doc_id, $synthPiiSql AS text FROM documents),
         |$curationMetricCtesSql,
         |g AS (SELECT doc_id, $gram5 AS gram
         |  FROM w, unnest(generate_series(1, greatest(len(words) - 4, 0))) AS t(i)),
         |tg AS (SELECT DISTINCT doc_id, gram FROM g),
         |bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 20 = 0),
         |ov AS (SELECT tg.doc_id, count(*) AS c FROM tg JOIN bg USING (gram)
         |  GROUP BY tg.doc_id),
         |verdict AS (SELECT a.doc_id,
         |  CASE WHEN coalesce(ov.c, 0) > 0 THEN 'contaminated'
         |    WHEN pii.pii_flag THEN 'pii'
         |    WHEN qs.quality_score < 0.5 THEN 'low_quality'
         |    WHEN lang.lang_pred <> 'en' THEN 'non_english'
         |    WHEN rep.dup_line_frac > 0.3 OR rep.top2gram_char_frac > 0.08
         |      THEN 'repetitive'
         |    ELSE 'keep' END AS reason
         |  FROM a
         |  LEFT JOIN ov ON ov.doc_id = a.doc_id
         |  JOIN pii ON pii.doc_id = a.doc_id
         |  JOIN qs ON qs.doc_id = a.doc_id
         |  JOIN lang ON lang.doc_id = a.doc_id
         |  JOIN rep ON rep.doc_id = a.doc_id)
         |SELECT doc_id, reason, reason = 'keep' AS keep,
         |  CASE WHEN ${uniformSql("doc_id::VARCHAR")} < 0.8 THEN 'train'
         |    WHEN ${uniformSql("doc_id::VARCHAR")} < ${"%.17e".format(0.8 + 0.1)} THEN 'valid'
         |    ELSE 'test' END AS split
         |FROM verdict""".stripMargin
    },

    // per-source report card: the same metric replay over RAW docs (no
    // synth PII, no contamination gate), plus exact-dup rate and the
    // unigram-LM mean, aggregated per source
    "doc_report_card" ->
      s"""WITH a AS (SELECT doc_id, text FROM documents),
         |$curationMetricCtesSql,
         |verdict AS (SELECT a.doc_id,
         |  CASE WHEN pii.pii_flag THEN 'pii'
         |    WHEN qs.quality_score < 0.5 THEN 'low_quality'
         |    WHEN lang.lang_pred <> 'en' THEN 'non_english'
         |    WHEN rep.dup_line_frac > 0.3 OR rep.top2gram_char_frac > 0.08
         |      THEN 'repetitive'
         |    ELSE 'keep' END AS reason, qs.quality_score
         |  FROM a
         |  JOIN pii ON pii.doc_id = a.doc_id
         |  JOIN qs ON qs.doc_id = a.doc_id
         |  JOIN lang ON lang.doc_id = a.doc_id
         |  JOIN rep ON rep.doc_id = a.doc_id),
         |norm AS (SELECT doc_id,
         |  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS tnorm FROM documents),
         |dupg AS (SELECT tnorm, min(doc_id) AS keep FROM norm GROUP BY tnorm),
         |dup AS (SELECT n.doc_id, n.doc_id <> g.keep AS is_dup
         |  FROM norm n JOIN dupg g USING (tnorm)),
         |utoks AS (SELECT doc_id, wd AS tok FROM (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '[^\\p{L}]+')) AS wd
         |  FROM documents) WHERE wd <> ''),
         |ucounts AS (SELECT tok, count(*) AS cnt FROM utoks GROUP BY tok),
         |utot AS (SELECT sum(cnt)::DOUBLE AS total FROM ucounts),
         |uvocab AS (SELECT tok, ln(cnt / (SELECT total FROM utot)) AS logp
         |  FROM ucounts ORDER BY cnt DESC, tok LIMIT 500),
         |ulp AS (SELECT t.doc_id,
         |    avg(coalesce(v.logp, ln(0.5 / (SELECT total FROM utot)))) AS avg_logp
         |  FROM utoks t LEFT JOIN uvocab v USING (tok) GROUP BY t.doc_id)
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |  round(avg(CASE WHEN v.reason = 'keep' THEN 1.0 ELSE 0.0 END) + 1e-9, 6) AS keep_rate,
         |  round(avg(CASE WHEN dup.is_dup THEN 1.0 ELSE 0.0 END) + 1e-9, 6) AS dup_rate,
         |  -- inner round mirrors qualityMetrics' own 6-dp rounding; safe
         |  -- ONLY because quality_score takes coarse discrete values
         |  -- (sums of 0.5/0.3/0.2 penalties → per-element diff ~1e-17,
         |  -- absorbed by the shared r6n nudge). If the scorer ever gains
         |  -- finer-grained terms, re-derive this parity (ADVICE r6).
         |  round(avg(round(v.quality_score, 6)) + 1e-9, 6) AS avg_quality,
         |  round(avg(ulp.avg_logp) + 1e-9, 6) AS avg_logp
         |FROM documents d
         |JOIN verdict v ON v.doc_id = d.doc_id
         |JOIN dup ON dup.doc_id = d.doc_id
         |JOIN ulp ON ulp.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin,

    "doc_sample_stable" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${uniformSql("doc_id::VARCHAR")} < 0.25""".stripMargin,

    // SQL-surface twins: same FNV / fmix64-uniform / cosine replays the
    // Column-API queries use, against the spark.sql registration path
    "doc_sql_surface" ->
      s"""SELECT doc_id, ${fnvSql("text")} AS fp,
         |  ${uniformSql("doc_id::VARCHAR")} AS draw
         |FROM documents""".stripMargin,

    "emb_sql_cosine" ->
      s"""SELECT a.vec_id,
         |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
         |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |WHERE a.vec_id < 200""".stripMargin,

    // split thresholds use the Scala-computed sums (0.8 + 0.1 is NOT 0.9
    // in doubles — the oracle inlines the exact boundary the op compares)
    "doc_sample_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${uniformSql("doc_id::VARCHAR")} < 0.8 THEN 'train'
         |    WHEN ${uniformSql("doc_id::VARCHAR")} < ${"%.17e".format(0.8 + 0.1)} THEN 'valid'
         |    ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    "doc_sample_quota" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY ${uniformSql("doc_id::VARCHAR")}, doc_id) AS rk
         |  FROM documents) WHERE rk <= 30""".stripMargin,

    "doc_mix_plan" ->
      """WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n, pow(n, 0.5) AS wt FROM c),
        |t AS (SELECT sum(wt) AS tw FROM w)
        |SELECT source, n::BIGINT AS n_docs,
        |  round(wt / (SELECT tw FROM t) + 1e-9, 6) AS p,
        |  least(n, floor(wt / (SELECT tw FROM t) * 300 + 0.5))::BIGINT AS quota
        |FROM w""".stripMargin,

    // epoch-cap ground truth: same tokenization, same sqrt-temperature
    // weights, closed-form min(desired, maxEpochs*T) cap, shortfall as
    // the rounded double difference of the two sums
    "doc_epoch_mix" ->
      """WITH tk AS (SELECT source,
        |  sum(len(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')))::DOUBLE AS t
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, t, pow(t, 0.5) AS wt FROM tk),
        |tw AS (SELECT sum(wt) AS tw FROM w),
        |pl AS (SELECT source, t, wt / (SELECT tw FROM tw) AS p,
        |  wt / (SELECT tw FROM tw) * 54000 AS desired FROM w),
        |al AS (SELECT source, t, p, desired,
        |  least(desired, t * 2.0) AS alloc FROM pl),
        |sh AS (SELECT sum(desired) - sum(alloc) AS s FROM al)
        |SELECT source, t::BIGINT AS tokens_available,
        |  round(p + 1e-9, 6) AS p,
        |  floor(alloc)::BIGINT AS allocated_tokens,
        |  round(alloc / t + 1e-9, 6) AS epochs,
        |  round((SELECT s FROM sh) + 1e-9, 6) AS shortfall
        |FROM al""".stripMargin,

    "doc_mix_sample" ->
      s"""WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
         |w AS (SELECT source, n, pow(n, 0.5) AS wt FROM c),
         |t AS (SELECT sum(wt) AS tw FROM w),
         |q AS (SELECT source,
         |  least(n, floor(wt / (SELECT tw FROM t) * 300 + 0.5))::BIGINT AS quota FROM w),
         |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY ${uniformSql("doc_id::VARCHAR")}, doc_id) AS rk
         |  FROM documents)
         |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
         |WHERE r.rk <= q.quota""".stripMargin,

    // transitive closure of the same pair list → min-id component labels
    // (Dedup.duplicateGroups' unique fixpoint)
    "doc_dedup_groups" -> dedupGroupsOracleSql,
    // incremental assignments = the same transitive closure, restricted
    // to the new slice (the min-label contraction preserves component
    // minima, so full and incremental labels agree by construction)
    "doc_dedup_groups_incremental" ->
      s"""SELECT * FROM ($dedupGroupsOracleSql) __g
         |WHERE doc_id >= 100000""".stripMargin,

    // O(n²) DFT per series, top-5 harmonics extrapolated (FftForecast)
    "ts_fft_fc" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |freqs AS (SELECT user_id, n, unnest(generate_series(0, n // 2)) AS k
         |  FROM (SELECT DISTINCT user_id, n FROM o)),
         |dft AS (SELECT f.user_id, f.k, f.n,
         |  sum(o.value * cos(-2 * pi() * f.k * (o.rn - 1) / f.n)) AS re,
         |  sum(o.value * sin(-2 * pi() * f.k * (o.rn - 1) / f.n)) AS im
         |  FROM freqs f JOIN o ON o.user_id = f.user_id
         |  GROUP BY f.user_id, f.k, f.n),
         |dc AS (SELECT user_id, re / n AS dc FROM dft WHERE k = 0),
         |top AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY sqrt(re * re + im * im) DESC, k DESC) AS rk
         |  FROM dft WHERE k >= 1),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |steps AS (SELECT unnest(generate_series(1, 7)) AS step),
         |fc AS (SELECT t.user_id, s.step,
         |  sum(2.0 * sqrt(re * re + im * im) / n *
         |      cos(2 * pi() * (k::DOUBLE / n) * (n + s.step - 1) + atan2(im, re))) AS harm
         |  FROM top t CROSS JOIN steps s WHERE t.rk <= 5
         |  GROUP BY t.user_id, s.step)
         |SELECT f.user_id, f.step, make_timestamp(l.us + f.step * d.freq) AS ts,
         |  round(c.dc + f.harm + 1e-9, 6) AS y_hat
         |FROM fc f JOIN dc c USING (user_id) JOIN lastt l USING (user_id)
         |JOIN d USING (user_id)""".stripMargin,

    // middle-out reconciliation over the naive bottom-up hierarchy
    "ts_reconcile_mo" ->
      s"""WITH o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |lastv AS (SELECT user_id, us, value FROM o WHERE rn = n),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |fc AS (SELECT l.user_id, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  l.value AS y_hat FROM lastv l JOIN d USING (user_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s),
         |g AS (SELECT user_id % 3 AS grp, ts, sum(y_hat) AS gy
         |  FROM fc GROUP BY user_id % 3, ts),
         |ratio AS (SELECT f.user_id, f.user_id % 3 AS grp, f.ts,
         |  f.y_hat / g.gy AS r FROM fc f
         |  JOIN g ON g.grp = f.user_id % 3 AND g.ts = f.ts),
         |prop AS (SELECT user_id, grp, avg(r) AS p FROM ratio GROUP BY user_id, grp),
         |bot AS (SELECT p.user_id, g.ts, g.gy * p.p AS y_hat
         |  FROM g JOIN prop p ON p.grp = g.grp)
         |SELECT 'g' || grp::VARCHAR AS unique_id, ts, round(gy + 1e-9, 6) AS y_hat FROM g
         |UNION ALL
         |SELECT user_id::VARCHAR, ts, round(y_hat + 1e-9, 6) FROM bot
         |UNION ALL
         |SELECT 'total', ts, round(sum(y_hat) + 1e-9, 6) FROM bot GROUP BY ts""".stripMargin,

    // permutation importance of the lag-1 feature: the deterministic
    // shuffle key is engine-reproducible FNV of event_id
    "ts_perm_importance" ->
      s"""WITH e AS (SELECT user_id, event_id, ts, value,
         |  lag(value, 1) OVER ($W) AS yhat FROM events),
         |f AS (SELECT user_id, event_id, value, yhat,
         |  row_number() OVER ($W) AS rn FROM e WHERE yhat IS NOT NULL),
         |base AS (SELECT user_id, avg(abs(value - yhat)) AS mae FROM f GROUP BY user_id),
         |h AS (SELECT user_id, rn, value, yhat,
         |  ${fnvSql("event_id::VARCHAR")} AS hv FROM f),
         |perm AS (SELECT user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY hv) AS srn,
         |  yhat AS ph FROM h),
         |sh AS (SELECT a.user_id, avg(abs(a.value - p.ph)) AS ms
         |  FROM f a JOIN perm p ON p.user_id = a.user_id AND p.srn = a.rn
         |  GROUP BY a.user_id)
         |SELECT b.user_id, round(s.ms - b.mae + 1e-9, 6) AS importance
         |FROM base b JOIN sh s USING (user_id)""".stripMargin,

    // Kaboudan eta with deterministic FNV block shuffle (blockSize=8)
    "ts_kaboudan" ->
      s"""WITH w AS (SELECT user_id, value, row_number() OVER ($W) AS rn FROM events),
         |b AS (SELECT *, ((rn - 1) // 8)::BIGINT AS blk FROM w),
         |h AS (SELECT *,
         |  ${fnvSql("user_id::VARCHAR || '_' || blk::VARCHAR")} AS hv FROM b),
         |s AS (SELECT user_id,
         |  row_number() OVER (PARTITION BY user_id ORDER BY hv, rn) AS srn,
         |  value AS shuf FROM h),
         |j AS (SELECT a.user_id, a.rn, a.value, s.shuf FROM b a
         |  JOIN s ON s.user_id = a.user_id AND s.srn = a.rn),
         |l AS (SELECT user_id,
         |  pow(value - lag(value) OVER (PARTITION BY user_id ORDER BY rn), 2) AS eo,
         |  pow(shuf - lag(shuf) OVER (PARTITION BY user_id ORDER BY rn), 2) AS es FROM j)
         |SELECT user_id, round(1.0 - sum(eo) / sum(es) + 1e-9, 6) AS kaboudan_eta
         |FROM l GROUP BY user_id""".stripMargin,

    // healthcare triage chain over synthesized vitals (pure expressions)
    "ts_health_triage" ->
      s"""WITH v AS (SELECT user_id, event_id,
         |  60.0 + ((value * 7) % 80 + 80) % 80 AS hr,
         |  85.0 + ((value * 11) % 70 + 70) % 70 AS sbp,
         |  8.0 + ((value * 3) % 20 + 20) % 20 AS rr,
         |  35.0 + ((value) % 5 + 5) % 5 AS temp,
         |  90.0 + ((value * 5) % 10 + 10) % 10 AS spo2
         |FROM events),
         |s AS (SELECT *,
         |  ((CASE WHEN rr >= 22.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN sbp <= 100.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN temp > 38.0 OR temp < 36.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN hr > 90.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN rr > 20.0 THEN 1 ELSE 0 END))::DOUBLE AS sepsis_score,
         |  ((CASE WHEN hr < 60.0 OR hr > 100.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN sbp < 100.0 OR sbp > 140.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN rr < 12.0 OR rr > 20.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN temp < 36.0 OR temp > 38.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN spo2 < 94.0 OR spo2 > 100.0 THEN 1 ELSE 0 END))::DOUBLE AS n_deranged,
         |  ((CASE WHEN rr <= 8 OR rr >= 25 THEN 3 WHEN rr >= 21 THEN 2
         |     WHEN rr <= 11 THEN 1 ELSE 0 END) +
         |   (CASE WHEN spo2 <= 91 THEN 3 WHEN spo2 <= 93 THEN 2
         |     WHEN spo2 <= 95 THEN 1 ELSE 0 END) +
         |   (CASE WHEN sbp <= 90 OR sbp >= 220 THEN 3 WHEN sbp <= 100 THEN 2
         |     WHEN sbp <= 110 THEN 1 ELSE 0 END) +
         |   (CASE WHEN hr <= 40 OR hr >= 131 THEN 3 WHEN hr >= 111 THEN 2
         |     WHEN hr >= 91 OR hr <= 50 THEN 1 ELSE 0 END) +
         |   (CASE WHEN temp <= 35 THEN 3 WHEN temp >= 39.1 THEN 2
         |     WHEN temp >= 38.1 OR temp <= 36 THEN 1 ELSE 0 END)) AS news_score
         |FROM v),
         |t AS (SELECT *,
         |  greatest(CASE WHEN news_score >= 7 THEN 3 WHEN news_score >= 5 THEN 2
         |    WHEN news_score >= 1 THEN 1 ELSE 0 END,
         |    CASE WHEN sepsis_score >= 2 THEN 2 ELSE 0 END) AS tier0
         |FROM s)
         |SELECT user_id, event_id, sepsis_score, sepsis_score >= 2 AS sepsis_flag,
         |  n_deranged, news_score,
         |  least(CASE WHEN n_deranged >= 3 THEN least(tier0 + 1, 3) ELSE tier0 END, 3) AS tier
         |FROM t""".stripMargin,

    // IIoT condition monitoring: RMS health index + OLS-trend RUL
    "ts_condition_rul" ->
      s"""WITH w0 AS (SELECT user_id, event_id, ts,
         |  abs(value) * (1.0 + (row_number() OVER ($W))::DOUBLE / 40.0) AS v
         |FROM events),
         |r AS (SELECT user_id, event_id, v,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |  sqrt(avg(v * v) OVER wt) AS rms
         |FROM w0 WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
         |b AS (SELECT user_id, sqrt(avg(v * v)) + 1e-12 AS baseline
         |  FROM r WHERE rn <= 5 GROUP BY user_id),
         |h AS (SELECT r.user_id, r.event_id, r.rn, r.rms,
         |  greatest(0.0, least(1.0, 1.0 - greatest(0.0,
         |    least((r.rms / b.baseline - 1.0) / 2.0, 1.0)))) AS health
         |FROM r JOIN b USING (user_id)),
         |o AS (SELECT *,
         |  count(health) OVER hw AS n,
         |  avg(rn::DOUBLE) OVER hw AS mt,
         |  avg(health) OVER hw AS mh,
         |  avg(rn::DOUBLE * health) OVER hw AS mth,
         |  avg(rn::DOUBLE * rn::DOUBLE) OVER hw AS mtt
         |FROM h WINDOW hw AS (PARTITION BY user_id ORDER BY rn
         |  ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
         |sl AS (SELECT *, (mth - mt * mh) / (mtt - mt * mt) AS slope FROM o),
         |cur AS (SELECT *, (mh - slope * mt) + slope * rn::DOUBLE AS current FROM sl)
         |SELECT user_id, event_id, round(rms + 1e-9, 6) AS rms,
         |  round(health + 1e-9, 6) AS health,
         |  round(CASE WHEN n < 3 THEN NULL
         |    WHEN current <= 0.2 THEN 0.0
         |    WHEN slope >= -1e-9 THEN NULL
         |    ELSE (current - 0.2) / (-slope) END + 1e-9, 6) AS rul
         |FROM cur""".stripMargin,

    // multi-agent consensus anomaly: z + median-deviation + MAD agents over
    // the trailing 19-value context, majority vote
    "ts_consensus_anomaly" ->
      s"""WITH c AS (SELECT user_id, event_id, value,
         |  count(value) OVER ctx AS nctx,
         |  avg(value) OVER ctx AS mu,
         |  stddev_pop(value) OVER ctx + 1e-10 AS sd,
         |  list(value) OVER ctx AS ctxl
         |FROM events WINDOW ctx AS ($W ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)),
         |m AS (SELECT *, list_sort(ctxl) AS sl FROM c WHERE nctx = 19),
         |m2 AS (SELECT *, CASE WHEN len(sl) % 2 = 1 THEN sl[len(sl) // 2 + 1]
         |  ELSE (sl[len(sl) // 2] + sl[len(sl) // 2 + 1]) / 2.0 END AS med FROM m),
         |m3 AS (SELECT *, list_sort(list_transform(sl, v -> abs(v - med))) AS dl FROM m2),
         |m4 AS (SELECT *, (CASE WHEN len(dl) % 2 = 1 THEN dl[len(dl) // 2 + 1]
         |  ELSE (dl[len(dl) // 2] + dl[len(dl) // 2 + 1]) / 2.0 END) + 1e-10 AS mad FROM m3)
         |SELECT user_id, event_id,
         |  round(abs(value - mu) / sd + 1e-9, 6) AS z_score,
         |  round(abs(value - med) / sd + 1e-9, 6) AS std_score,
         |  round(0.6745 * abs(value - med) / mad + 1e-9, 6) AS mad_score,
         |  ((CASE WHEN abs(value - mu) / sd > 3.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN abs(value - med) / sd > 3.0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN 0.6745 * abs(value - med) / mad > 3.5 THEN 1 ELSE 0 END)) > 1.5 AS decision
         |FROM m4""".stripMargin,

    // pooled ridge AR(3): Gram aggregates → Cramer solve → unrolled
    // 5-step recursion per series
    "ts_ridge_fc" -> {
      val p = 4
      val gName = Array.tabulate(p, p)((i, j) =>
        if (i <= j) s"g_${i}_$j" else s"g_${j}_$i")
      val withL2 = Array.tabulate(p, p)((i, j) =>
        if (i == j && i < p - 1) s"(${gName(i)(j)} + 0.001)" else gName(i)(j))
      val detA = detSql(withL2)
      val coefExprs = (0 until p).map { ci =>
        val rep = Array.tabulate(p, p)((i, j) => if (j == ci) s"b_$i" else withL2(i)(j))
        s"(${detSql(rep)}) / ($detA) AS c$ci"
      }.mkString(",\n|  ")
      // recursion: v1 = last, v2, v3 older; steps via lateral aliases
      val steps = Seq(
        "c0 * v1 + c1 * v2 + c2 * v3 + c3 AS s1",
        "c0 * s1 + c1 * v1 + c2 * v2 + c3 AS s2",
        "c0 * s2 + c1 * s1 + c2 * v1 + c3 AS s3",
        "c0 * s3 + c1 * s2 + c2 * s1 + c3 AS s4",
        "c0 * s4 + c1 * s3 + c2 * s2 + c3 AS s5").mkString(",\n|  ")
      s"""WITH f AS (SELECT value AS y,
         |  lag(value, 1) OVER ($W) AS x0, lag(value, 2) OVER ($W) AS x1,
         |  lag(value, 3) OVER ($W) AS x2, 1.0::DOUBLE AS x3 FROM events),
         |fc AS (SELECT * FROM f WHERE x0 IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL),
         |gram AS (SELECT
         |  sum(x0*x0) AS g_0_0, sum(x0*x1) AS g_0_1, sum(x0*x2) AS g_0_2, sum(x0*x3) AS g_0_3,
         |  sum(x1*x1) AS g_1_1, sum(x1*x2) AS g_1_2, sum(x1*x3) AS g_1_3,
         |  sum(x2*x2) AS g_2_2, sum(x2*x3) AS g_2_3, sum(x3*x3) AS g_3_3,
         |  sum(x0*y) AS b_0, sum(x1*y) AS b_1, sum(x2*y) AS b_2, sum(x3*y) AS b_3
         |FROM fc),
         |coef AS (SELECT
         |  $coefExprs
         |FROM gram),
         |o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |tails AS (SELECT user_id,
         |  max(CASE WHEN rn = n THEN value END) AS v1,
         |  max(CASE WHEN rn = n - 1 THEN value END) AS v2,
         |  max(CASE WHEN rn = n - 2 THEN value END) AS v3
         |  FROM o GROUP BY user_id),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |rec AS (SELECT t.user_id,
         |  $steps
         |FROM tails t CROSS JOIN coef)
         |SELECT r.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(CASE s.step WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
         |    WHEN 4 THEN s4 ELSE s5 END + 1e-9, 6) AS y_hat
         |FROM rec r JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS step) s""".stripMargin
    },

    // direct multi-step: one Cramer-solved ridge per horizon step over the
    // lead-shifted target; every step predicts from the last lag vector
    "ts_direct_fc" -> {
      val p = 4
      val gName = Array.tabulate(p, p)((i, j) =>
        if (i <= j) s"g_${i}_$j" else s"g_${j}_$i")
      val withL2 = Array.tabulate(p, p)((i, j) =>
        if (i == j && i < p - 1) s"(${gName(i)(j)} + 0.001)" else gName(i)(j))
      val detA = detSql(withL2)
      val coefExprs = (0 until p).map { ci =>
        val rep = Array.tabulate(p, p)((i, j) => if (j == ci) s"b_$i" else withL2(i)(j))
        s"(${detSql(rep)}) / ($detA) AS c$ci"
      }.mkString(", ")
      val perStep = (1 to 3).map { st =>
        s"""sh$st AS (SELECT user_id, ts, event_id,
           |  lead(value, ${st - 1}) OVER ($W) AS yy FROM events),
           |f$st AS (SELECT yy AS y,
           |  lag(yy, 1) OVER ($W) AS x0, lag(yy, 2) OVER ($W) AS x1,
           |  lag(yy, 3) OVER ($W) AS x2, 1.0::DOUBLE AS x3 FROM sh$st),
           |fc$st AS (SELECT * FROM f$st WHERE y IS NOT NULL AND x0 IS NOT NULL
           |  AND x1 IS NOT NULL AND x2 IS NOT NULL),
           |g$st AS (SELECT
           |  sum(x0*x0) AS g_0_0, sum(x0*x1) AS g_0_1, sum(x0*x2) AS g_0_2, sum(x0*x3) AS g_0_3,
           |  sum(x1*x1) AS g_1_1, sum(x1*x2) AS g_1_2, sum(x1*x3) AS g_1_3,
           |  sum(x2*x2) AS g_2_2, sum(x2*x3) AS g_2_3, sum(x3*x3) AS g_3_3,
           |  sum(x0*y) AS b_0, sum(x1*y) AS b_1, sum(x2*y) AS b_2, sum(x3*y) AS b_3
           |FROM fc$st),
           |c$st AS (SELECT $coefExprs FROM g$st)""".stripMargin
      }.mkString(",\n|")
      val preds = (1 to 3).map(st =>
        s"c$st.c0 * v1 + c$st.c1 * v2 + c$st.c2 * v3 + c$st.c3 AS s$st").mkString(",\n|  ")
      s"""WITH $perStep,
         |o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |tails AS (SELECT user_id,
         |  max(CASE WHEN rn = n THEN value END) AS v1,
         |  max(CASE WHEN rn = n - 1 THEN value END) AS v2,
         |  max(CASE WHEN rn = n - 2 THEN value END) AS v3
         |  FROM o GROUP BY user_id),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id),
         |rec AS (SELECT t.user_id,
         |  $preds
         |FROM tails t CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN c3)
         |SELECT r.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(CASE s.step WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END + 1e-9, 6) AS y_hat
         |FROM rec r JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS step) s""".stripMargin
    },

    // multimodal metadata + fake-decode f0: FNV byte fold with exact
    // integer f0 accumulation (×1000), sha256 of the UTF-8 payload
    "mm_features" ->
      """WITH b AS (SELECT doc_id, text,
        |  octet_length(text::BLOB)::BIGINT AS payload_size_bytes FROM documents),
        |f AS (SELECT doc_id, payload_size_bytes, sha256(text) AS payload_sha256,
        |  list_reduce(
        |    list_prepend([1469598103934665603::HUGEINT, 0::HUGEINT, 0::HUGEINT],
        |      list_transform(list_filter(split(text, ''), ch -> ch <> ''),
        |        ch -> [unicode(ch)::HUGEINT, 0::HUGEINT, 0::HUGEINT])),
        |    (acc, x) -> [
        |      (xor(acc[1], x[1]) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT,
        |      acc[2] + (CASE WHEN acc[3] % 16 = 0 THEN
        |        (CASE WHEN (xor(acc[1], x[1]) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |              >= 9223372036854775808::HUGEINT
        |         THEN ((xor(acc[1], x[1]) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        |               - 18446744073709551616::HUGEINT) % 1000
        |         ELSE ((xor(acc[1], x[1]) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) % 1000
        |        END) ELSE 0 END),
        |      acc[3] + 1]) AS st
        |  FROM b)
        |SELECT f.doc_id, payload_size_bytes, payload_sha256,
        |  round(st[2]::DOUBLE / 1000.0 + 1e-9, 6) AS f0,
        |  CASE WHEN f.doc_id % 3 = 0 THEN 'png'
        |       WHEN f.doc_id % 3 = 1 THEN 'jpeg' END AS format,
        |  CASE WHEN f.doc_id % 3 IN (0, 1)
        |    THEN ((d.n_chars % 64) + 1)::INT END AS width,
        |  CASE WHEN f.doc_id % 3 IN (0, 1)
        |    THEN (((d.n_chars // 64) % 64) + 1)::INT END AS height,
        |  CASE WHEN f.doc_id % 3 IN (0, 1)
        |    THEN (CASE WHEN f.doc_id % 2 = 0 THEN 3 ELSE 1 END)::INT END AS channels
        |FROM f JOIN documents d ON d.doc_id = f.doc_id""".stripMargin,

    // per-series Fourier-ridge decomposition: 5×5 Cramer per user over
    // grouped Gram aggregates (trend = centered MA, as seasonal_decomp)
    "ts_fourier_decomp" -> {
      val d = 5
      val gName = Array.tabulate(d, d)((i, j) =>
        if (i <= j) s"g_${i}_$j" else s"g_${j}_$i")
      val withL2 = Array.tabulate(d, d)((i, j) =>
        if (i == j && i < d - 1) s"(${gName(i)(j)} + 0.001)" else gName(i)(j))
      val detA = detSql(withL2)
      val coefExprs = (0 until d).map { ci =>
        val rep = Array.tabulate(d, d)((i, j) => if (j == ci) s"b_$i" else withL2(i)(j))
        s"(${detSql(rep)}) / ($detA) AS c$ci"
      }.mkString(",\n|  ")
      val gramSums = (for (i <- 0 until d; j <- i until d) yield
        s"sum(CASE WHEN detr IS NOT NULL THEN x$i*x$j END) AS g_${i}_$j").mkString(",\n|  ")
      val bSums = (0 until d).map(i =>
        s"sum(CASE WHEN detr IS NOT NULL THEN x$i*detr END) AS b_$i").mkString(",\n|  ")
      val fitted = "c0*x0 + c1*x1 + c2*x2 + c3*x3 + c4*x4"
      s"""WITH b AS (SELECT user_id, event_id, value,
         |  (row_number() OVER ($W) - 1)::DOUBLE AS t,
         |  CASE WHEN count(value) OVER wf >= 24 THEN avg(value) OVER wf END AS trend
         |FROM events WINDOW wf AS ($W ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
         |f AS (SELECT *, value - trend AS detr,
         |  sin(2*pi()*1*t/24.0) AS x0, cos(2*pi()*1*t/24.0) AS x1,
         |  sin(2*pi()*2*t/24.0) AS x2, cos(2*pi()*2*t/24.0) AS x3,
         |  1.0::DOUBLE AS x4 FROM b),
         |g AS (SELECT user_id,
         |  $gramSums,
         |  $bSums
         |FROM f GROUP BY user_id),
         |c AS (SELECT user_id,
         |  $coefExprs
         |FROM g)
         |SELECT f.user_id, f.event_id, round(f.trend + 1e-9, 6) AS trend,
         |  round($fitted + 1e-9, 6) AS seasonal,
         |  round(f.detr - ($fitted) + 1e-9, 6) AS resid
         |FROM f JOIN c USING (user_id)""".stripMargin
    },

    // stacking: meta-ridge (Cramer 4×4) over OOF naive/MA/SES predictions,
    // applied to the h=7 future forecasts of the same base models
    "ts_stacking" -> {
      val p = 4
      val gName = Array.tabulate(p, p)((i, j) =>
        if (i <= j) s"g_${i}_$j" else s"g_${j}_$i")
      val withL2 = Array.tabulate(p, p)((i, j) =>
        if (i == j && i < p - 1) s"(${gName(i)(j)} + 0.001)" else gName(i)(j))
      val detA = detSql(withL2)
      val coefExprs = (0 until p).map { ci =>
        val rep = Array.tabulate(p, p)((i, j) => if (j == ci) s"b_$i" else withL2(i)(j))
        s"(${detSql(rep)}) / ($detA) AS w$ci"
      }.mkString(",\n|  ")
      s"""WITH tm AS (SELECT ts, row_number() OVER (ORDER BY ts) AS tidx
         |  FROM (SELECT DISTINCT ts FROM events)),
         |nt AS (SELECT max(tidx) AS nt FROM tm),
         |e AS (SELECT ev.user_id, ev.event_id, ev.ts, ev.value, t.tidx, n.nt
         |  FROM events ev JOIN tm t ON ev.ts = t.ts CROSS JOIN nt n),
         |marked AS (SELECT e.*, f.fold,
         |  CASE WHEN tidx <= nt - (2 - fold) * 12 THEN 'train'
         |       WHEN tidx > nt - (2 - fold) * 12 AND tidx <= nt - (2 - fold) * 12 + 12
         |       THEN 'test' END AS split
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 1))::INT AS fold) f),
         |trn AS (SELECT fold, user_id, value,
         |  row_number() OVER (PARTITION BY fold, user_id ORDER BY ts, event_id) AS rn,
         |  count(*) OVER (PARTITION BY fold, user_id) AS n
         |  FROM marked WHERE split = 'train'),
         |naive_fc AS (SELECT fold, user_id, value AS m0 FROM trn WHERE rn = n),
         |ma_fc AS (SELECT fold, user_id, avg(value) AS m1 FROM trn
         |  WHERE rn > n - 12 GROUP BY fold, user_id),
         |ses_fc AS (SELECT fold, user_id, list_reduce(list(value ORDER BY rn),
         |  (acc, v) -> 0.3 * v + (1.0::DOUBLE - 0.3) * acc) AS m2
         |  FROM trn GROUP BY fold, user_id),
         |te AS (SELECT fold, user_id, ts, value, row_number() OVER
         |  (PARTITION BY fold, user_id ORDER BY ts, event_id) AS step
         |  FROM marked WHERE split = 'test'),
         |oof AS (SELECT t.value AS y, n0.m0, m1.m1, s2.m2, 1.0::DOUBLE AS x3
         |  FROM te t
         |  JOIN naive_fc n0 ON n0.fold = t.fold AND n0.user_id = t.user_id
         |  JOIN ma_fc m1 ON m1.fold = t.fold AND m1.user_id = t.user_id
         |  JOIN ses_fc s2 ON s2.fold = t.fold AND s2.user_id = t.user_id
         |  WHERE t.step <= 12),
         |g AS (SELECT
         |  sum(m0*m0) AS g_0_0, sum(m0*m1) AS g_0_1, sum(m0*m2) AS g_0_2, sum(m0*x3) AS g_0_3,
         |  sum(m1*m1) AS g_1_1, sum(m1*m2) AS g_1_2, sum(m1*x3) AS g_1_3,
         |  sum(m2*m2) AS g_2_2, sum(m2*x3) AS g_2_3, sum(x3*x3) AS g_3_3,
         |  sum(m0*y) AS b_0, sum(m1*y) AS b_1, sum(m2*y) AS b_2, sum(x3*y) AS b_3
         |FROM oof),
         |coef AS (SELECT
         |  $coefExprs
         |FROM g),
         |o AS (SELECT user_id, value, epoch_us(ts) AS us,
         |  row_number() OVER ($W) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |fut_naive AS (SELECT user_id, value AS m0 FROM o WHERE rn = n),
         |fut_ma AS (SELECT user_id, avg(value) AS m1 FROM o WHERE rn > n - 12 GROUP BY user_id),
         |fut_ses AS (SELECT user_id, list_reduce(list(value ORDER BY rn),
         |  (acc, v) -> 0.3 * v + (1.0::DOUBLE - 0.3) * acc) AS m2 FROM o GROUP BY user_id),
         |lastt AS (SELECT user_id, max(us) AS us FROM o GROUP BY user_id),
         |d AS (SELECT user_id, min(us - lus) AS freq FROM
         |  (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS lus FROM o)
         |  WHERE lus IS NOT NULL GROUP BY user_id)
         |SELECT fn.user_id, s.step, make_timestamp(l.us + s.step * d.freq) AS ts,
         |  round(fn.m0 * c.w0 + fm.m1 * c.w1 + fs.m2 * c.w2 + c.w3 + 1e-9, 6) AS y_hat
         |FROM fut_naive fn JOIN fut_ma fm USING (user_id)
         |JOIN fut_ses fs USING (user_id)
         |JOIN lastt l USING (user_id) JOIN d USING (user_id)
         |CROSS JOIN coef c
         |CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS step) s""".stripMargin
    },

    // backtest-compare naive / moving_average(12) / ses(0.3), ranked by MAE
    "ts_compare_models" ->
      """WITH tm AS (SELECT ts, row_number() OVER (ORDER BY ts) AS tidx
        |  FROM (SELECT DISTINCT ts FROM events)),
        |nt AS (SELECT max(tidx) AS nt FROM tm),
        |e AS (SELECT ev.user_id, ev.event_id, ev.ts, ev.value, t.tidx, n.nt
        |  FROM events ev JOIN tm t ON ev.ts = t.ts CROSS JOIN nt n),
        |marked AS (SELECT e.*, f.fold,
        |  CASE WHEN tidx <= nt - (2 - fold) * 12 THEN 'train'
        |       WHEN tidx > nt - (2 - fold) * 12 AND tidx <= nt - (2 - fold) * 12 + 12
        |       THEN 'test' END AS split
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 1))::INT AS fold) f),
        |trn AS (SELECT fold, user_id, value,
        |  row_number() OVER (PARTITION BY fold, user_id ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY fold, user_id) AS n
        |  FROM marked WHERE split = 'train'),
        |naive_fc AS (SELECT fold, user_id, value AS y_hat FROM trn WHERE rn = n),
        |ma_fc AS (SELECT fold, user_id, avg(value) AS y_hat FROM trn
        |  WHERE rn > n - 12 GROUP BY fold, user_id),
        |ses_fc AS (SELECT fold, user_id, list_reduce(list(value ORDER BY rn),
        |  (acc, v) -> 0.3 * v + (1.0::DOUBLE - 0.3) * acc) AS y_hat
        |  FROM trn GROUP BY fold, user_id),
        |te AS (SELECT fold, user_id, value, row_number() OVER
        |  (PARTITION BY fold, user_id ORDER BY ts, event_id) AS step
        |  FROM marked WHERE split = 'test'),
        |m AS (
        |  SELECT 'naive' AS model, t.fold, avg(abs(t.value - f.y_hat)) AS mae,
        |    sqrt(avg(pow(t.value - f.y_hat, 2))) AS rmse
        |  FROM te t JOIN naive_fc f ON f.fold = t.fold AND f.user_id = t.user_id
        |  WHERE t.step <= 12 GROUP BY t.fold
        |  UNION ALL
        |  SELECT 'moving_average', t.fold, avg(abs(t.value - f.y_hat)),
        |    sqrt(avg(pow(t.value - f.y_hat, 2)))
        |  FROM te t JOIN ma_fc f ON f.fold = t.fold AND f.user_id = t.user_id
        |  WHERE t.step <= 12 GROUP BY t.fold
        |  UNION ALL
        |  SELECT 'ses', t.fold, avg(abs(t.value - f.y_hat)),
        |    sqrt(avg(pow(t.value - f.y_hat, 2)))
        |  FROM te t JOIN ses_fc f ON f.fold = t.fold AND f.user_id = t.user_id
        |  WHERE t.step <= 12 GROUP BY t.fold),
        |agg AS (SELECT model, avg(mae) AS mae, avg(rmse) AS rmse FROM m GROUP BY model)
        |SELECT row_number() OVER (ORDER BY mae) AS rank, model,
        |  round(mae + 1e-9, 6) AS mae, round(rmse + 1e-9, 6) AS rmse
        |FROM agg""".stripMargin,

    // streaming global ridge: the incremental Gram equals a batch Gram
    // over lag features (ts-only ordering, as the keyed state folds)
    "ts_streaming_ridge" -> {
      val p = 4
      val gName = Array.tabulate(p, p)((i, j) =>
        if (i <= j) s"g_${i}_$j" else s"g_${j}_$i")
      val withL2 = Array.tabulate(p, p)((i, j) =>
        if (i == j && i < p - 1) s"(${gName(i)(j)} + 0.001)" else gName(i)(j))
      val detA = detSql(withL2)
      val coefCase = (0 until p).map { ci =>
        val rep = Array.tabulate(p, p)((i, j) => if (j == ci) s"b_$i" else withL2(i)(j))
        s"WHEN $ci THEN (${detSql(rep)}) / ($detA)"
      }.mkString(" ")
      s"""WITH f AS (SELECT value AS y,
         |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS x0,
         |  lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts) AS x1,
         |  lag(value, 3) OVER (PARTITION BY user_id ORDER BY ts) AS x2,
         |  1.0::DOUBLE AS x3 FROM events),
         |fc AS (SELECT * FROM f WHERE x0 IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL),
         |gram AS (SELECT
         |  sum(x0*x0) AS g_0_0, sum(x0*x1) AS g_0_1, sum(x0*x2) AS g_0_2, sum(x0*x3) AS g_0_3,
         |  sum(x1*x1) AS g_1_1, sum(x1*x2) AS g_1_2, sum(x1*x3) AS g_1_3,
         |  sum(x2*x2) AS g_2_2, sum(x2*x3) AS g_2_3, sum(x3*x3) AS g_3_3,
         |  sum(x0*y) AS b_0, sum(x1*y) AS b_1, sum(x2*y) AS b_2, sum(x3*y) AS b_3
         |FROM fc)
         |SELECT i.coef_idx,
         |  round((CASE i.coef_idx $coefCase END) + 1e-9, 6) AS coef
         |FROM gram CROSS JOIN (SELECT unnest(generate_series(0, 3))::INT AS coef_idx) i""".stripMargin
    },

    // streaming Holt fold replayed with per-row (level, trend) history
    "ts_streaming_ets" ->
      s"""WITH o AS (SELECT user_id::VARCHAR AS unique_id, ts, value,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
         |g AS (SELECT unique_id, list(value ORDER BY rn) AS vs FROM o GROUP BY unique_id),
         |st AS (SELECT unique_id, list_reduce(
         |  list_prepend([0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
         |    list_transform(vs, v -> [v, 0.0::DOUBLE, 0.0::DOUBLE])),
         |  (acc, x) -> $setsAcc) AS f FROM g)
         |SELECT o.unique_id, o.ts, o.value AS y,
         |  round(st.f[2 * o.rn + 2] + 1e-9, 6) AS level,
         |  round(st.f[2 * o.rn + 3] + 1e-9, 6) AS trend,
         |  round(st.f[2 * o.rn + 2] + st.f[2 * o.rn + 3] + 1e-9, 6) AS forecast_next
         |FROM o JOIN st USING (unique_id)""".stripMargin,

    // streaming scalar Kalman fold: state [x, p] init [0, 1e6], per-row
    // predict (p+q) / update; outputs appended pairwise like the ETS fold
    "ts_streaming_kalman" ->
      s"""WITH o AS (SELECT user_id::VARCHAR AS unique_id, ts, value,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
         |g AS (SELECT unique_id, list(value ORDER BY rn) AS vs FROM o GROUP BY unique_id),
         |st AS (SELECT unique_id, list_reduce(
         |  list_prepend([0.0::DOUBLE, 1000000.0::DOUBLE],
         |    list_transform(vs, v -> [v, 0.0::DOUBLE])),
         |  (acc, x) -> list_concat(
         |    [acc[1] + ((acc[2] + 0.001)/((acc[2] + 0.001) + 1.0))*(x[1] - acc[1]),
         |     (1.0 - (acc[2] + 0.001)/((acc[2] + 0.001) + 1.0))*(acc[2] + 0.001)],
         |    list_concat(acc[3:],
         |      [acc[1] + ((acc[2] + 0.001)/((acc[2] + 0.001) + 1.0))*(x[1] - acc[1]),
         |       (1.0 - (acc[2] + 0.001)/((acc[2] + 0.001) + 1.0))*(acc[2] + 0.001)]))) AS f
         |  FROM g)
         |SELECT o.unique_id, o.ts, o.value AS y,
         |  round(st.f[2 * o.rn + 1] + 1e-9, 6) AS filtered,
         |  round(st.f[2 * o.rn + 2] + 1e-9, 6) AS variance
         |FROM o JOIN st USING (unique_id)""".stripMargin,

    // sliding-window manager: bounded tail buffer per arrival; compared as
    // length + left-fold sum (the query folds the same way)
    "ts_streaming_window" ->
      s"""WITH o AS (SELECT user_id::VARCHAR AS unique_id, ts, value,
         |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
         |g AS (SELECT unique_id, list(value ORDER BY rn) AS vs FROM o GROUP BY unique_id)
         |SELECT o.unique_id, o.ts,
         |  least(o.rn, 24)::INT AS window_len,
         |  round(list_reduce(list_prepend(0.0::DOUBLE,
         |    g.vs[greatest(1, o.rn - 23):o.rn]), (a, v) -> a + v) + 1e-9, 6) AS window_sum
         |FROM o JOIN g USING (unique_id)""".stripMargin,

    // rolling-origin CV: nSplits=3, horizon=24, step=24, gap=0, expanding
    "ts_cv_rolling" ->
      """WITH tm AS (SELECT ts, row_number() OVER (ORDER BY ts) AS tidx
        |  FROM (SELECT DISTINCT ts FROM events)),
        |nt AS (SELECT max(tidx) AS nt FROM tm),
        |r AS (SELECT t.tidx, f.fold, n.nt FROM events e
        |  JOIN tm t ON e.ts = t.ts CROSS JOIN nt n
        |  CROSS JOIN (SELECT unnest(generate_series(0, 2))::INT AS fold) f),
        |marked AS (SELECT fold,
        |  CASE WHEN tidx <= (nt - 72) + fold * 24 THEN 'train'
        |    WHEN tidx > (nt - 72) + fold * 24 AND tidx <= (nt - 72) + fold * 24 + 24
        |    THEN 'test' END AS split FROM r)
        |SELECT fold, split, count(*) AS n_rows FROM marked
        |WHERE split IS NOT NULL GROUP BY fold, split""".stripMargin,

    "ts_pit_hist" ->
      s"""WITH p AS (SELECT value AS y, lag(value, 1) OVER ($W) AS yhat FROM events),
         |q AS (SELECT y, yhat * 0.9 AS q1, yhat AS q2, yhat * 1.1 AS q3
         |  FROM p WHERE yhat IS NOT NULL),
         |pit AS (SELECT ((CASE WHEN q1 <= y THEN 1.0 ELSE 0.0 END) +
         |  (CASE WHEN q2 <= y THEN 1.0 ELSE 0.0 END) +
         |  (CASE WHEN q3 <= y THEN 1.0 ELSE 0.0 END)) / 3.0 AS v FROM q),
         |b AS (SELECT least(floor(v * 10), 9)::BIGINT AS bin FROM pit),
         |cnt AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
         |tot AS (SELECT count(*) AS t FROM pit)
         |SELECT round((g.bin / 10.0), 6) AS bin_lower,
         |  round(((g.bin + 1) / 10.0), 6) AS bin_upper,
         |  coalesce(c.c, 0)::DOUBLE AS count,
         |  round(coalesce(c.c, 0) / greatest(t.t, 1)::DOUBLE, 6) AS density
         |FROM (SELECT unnest(generate_series(0, 9)) AS bin) g
         |LEFT JOIN cnt c ON c.bin = g.bin CROSS JOIN tot t""".stripMargin,

    "ts_reliability" ->
      s"""WITH p AS (SELECT value AS y, lag(value, 1) OVER ($W) AS yhat FROM events),
         |q AS (SELECT y, yhat * 0.9 AS q1, yhat AS q2, yhat * 1.1 AS q3
         |  FROM p WHERE yhat IS NOT NULL)
         |SELECT 0.1 AS expected, round(avg(CASE WHEN y <= q1 THEN 1.0 ELSE 0.0 END), 6) AS observed FROM q
         |UNION ALL
         |SELECT 0.5, round(avg(CASE WHEN y <= q2 THEN 1.0 ELSE 0.0 END), 6) FROM q
         |UNION ALL
         |SELECT 0.9, round(avg(CASE WHEN y <= q3 THEN 1.0 ELSE 0.0 END), 6) FROM q""".stripMargin,
  )
}
