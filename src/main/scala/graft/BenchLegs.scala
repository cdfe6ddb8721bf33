package graft

import graft.core.{IO, PanelCols}
import graft.kernels.DetRng
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one registry of bench legs. [[Bench]] times [[timed]] (all of it,
  * or a named subset) and runs [[scaleLegs]] at 1× and 10×;
  * `tools.DeepScale` runs the same [[scaleLegs]] at 1× and N×; the
  * test `PlanShapeSpec` asserts the plans of the same bodies. A leg body
  * is written here once, so a rename or a changed parameter reaches
  * every harness at once.
  *
  * Every timed body is lazy: it builds a DataFrame, and the harness
  * materializes it through the `noop` sink ([[mat]]) — `count()` would
  * let Catalyst prune exactly the columns under test. */
object BenchLegs {

  implicit val PC: PanelCols =
    PanelCols("user_id", "ts", "value", tieBreak = Seq("event_id"))

  /** Result group of a timed leg; each tier is summed into its own
    * field of the bench line (`core` is `value`, `core` + `curation` is
    * `total_full`), so adding a tier never moves an earlier total. */
  sealed trait Tier
  object Tier {
    case object Core extends Tier
    case object Curation extends Tier
    case object Neural extends Tier
    case object Selection extends Tier
    case object Media extends Tier
    case object Temporal extends Tier
    case object Sketch extends Tier
  }

  final case class Leg(name: String, tier: Tier, body: Ctx => DataFrame)

  /** What the timed bodies read: the base tables cached once, the
    * uncached `eventsSf` the temporal legs scan on every draw, and the
    * bounded driver-side fits (classifier weights, IVF centroids, the
    * streaming KN model, a small DEC fit) that run once, untimed — the
    * timed paths are the distributed scoring passes a corpus run
    * repeats. All lazy: [[prepare]] forces them before any draw. */
  final class Ctx(val spark: SparkSession, val sfDir: String) {
    lazy val events: DataFrame = IO.events(spark, sfDir).cache()
    lazy val docs: DataFrame = IO.documents(spark, sfDir).cache()
    lazy val emb: DataFrame =
      IO.embeddings(spark, sfDir).select("vec_id", "embedding").cache()
    lazy val eventsSf: DataFrame = IO.events(spark, sfDir)
    lazy val clfModel = Selection.textClassifierFit(docs, col("lang") === "en",
      buckets = 64, sampleCap = 1000)
    lazy val protoCenters = Similarity.ivfCentroids(emb)
    lazy val knTargetModel = TextOps.knModelFit(
      docs.filter(col("lang") === "en"), buckets = 1024)
    lazy val decFit = graft.kernels.DeepModels.decFit(
      DeepClustering.collectSeries(events, cap = 256).map(_._2),
      graft.kernels.DeepModels.DeepCfg(k = 3, embeddingDim = 4, nFilters = 4,
        pretrainEpochs = 2, finetuneEpochs = 1), idec = false)

    /** Pin the caches and run the fits, so no draw pays for them. */
    def prepare(): Unit = {
      events.count()
      decFit
      docs.count()
      emb.count()
      clfModel
      protoCenters
      knTargetModel
    }
  }

  // ── fixtures ─────────────────────────────────────────────────────────

  /** Deterministic synthetic panel: `nSeries` × `len` hourly rows with
    * trend, seasonality, hash-noise, and a level shift halfway (for
    * PELT). */
  def synthPanel(spark: SparkSession, nSeries: Int, len: Int): DataFrame =
    spark.range(nSeries.toLong * len).select(
      (col("id") / len).cast("long").as("user_id"),
      timestamp_micros((col("id") % len) * 3600000000L +
        lit(1704067200000000L)).cast("timestamp_ntz").as("ts"),
      lit(0L).as("event_id"),
      (sin(col("id") % len / lit(6.0)) * 10.0 +
        (col("id") % len) * 0.01 +
        when(col("id") % len >= len / 2, 5.0).otherwise(0.0) +
        pmod(xxhash64(col("id")), lit(1000)) / lit(1000.0)).as("value"))

  /** Seeded Fisher–Yates permutation of a character set (identity at
    * rep 0), DetRng-keyed so the fixture is reproducible. */
  def perm(chars: String, rep: Int): String = {
    if (rep == 0) return chars
    val a = chars.toCharArray
    val sc = DetRng.seedConst(0xdee9L + rep)
    var i = a.length - 1
    while (i > 0) {
      val j = (DetRng.uniform(sc, i.toLong) * (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"
  private val From = Lower + Lower.toUpperCase + Digits

  /** One ciphered replica of a corpus: `doc_id` offset into a disjoint
    * range, `text` through the replica's character bijection, every other
    * column passed through. Each replica gets an independent seeded
    * permutation of [a-z] (case-lifted to [A-Z]) and of [0-9] — a 26!·10!
    * family, collision-free at any factor, where an alphabet rotation
    * would cycle at 26 and alias replicas into manufactured exact
    * duplicates. A bijection on characters is a bijection on shingles,
    * so every intra-replica shingle/Jaccard/token relationship of the
    * original corpus is preserved exactly while cross-replica shingles
    * stay disjoint. Replica 0 is the identity. */
  def replica(docs: DataFrame, rep: Int, factor: Int): DataFrame = {
    val pl = perm(Lower, rep)
    val to = pl + pl.toUpperCase + perm(Digits, rep)
    docs.withColumn("doc_id", col("doc_id").cast("long") * factor + rep)
      .withColumn("text",
        if (rep == 0) col("text") else translate(col("text"), From, to))
  }

  /** `factor` ciphered replicas of a corpus, unioned. */
  def replicas(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map(replica(docs, _, factor)).reduce(_ union _)

  /** Materialize through the `noop` sink. */
  def mat(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cumulative process CPU seconds (whole JVM — in local mode that is
    * driver + all executor threads). Recorded next to wall time so a
    * draw tells "burned more cycles" (CPU tracks wall × parallelism)
    * from "waited" (co-residency or IO stall: wall grows, CPU doesn't).
    * −1 when the JVM does not expose it. */
  def procCpuSecs(): Double =
    try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    } catch { case _: Throwable => -1.0 }

  /** A `local[cpus]` harness session with the engine defaults
    * ([[graft.core.GraftSession]]), so every harness measures the
    * configuration Verify and library users run. */
  def session(cpus: Int): SparkSession =
    graft.core.GraftSession.withEngineDefaults(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
          sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")))
      .getOrCreate()

  /** Best-effort recursive delete of a harness scratch directory; call
    * from `finally`, so a mid-suite OOM or full disk still cleans up. */
  def cleanupScratch(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: Throwable => () }

  // ── scale legs: one body over one input, timed at 1× and N× ──────────

  /** What a scale leg reads. */
  sealed trait Input
  object Input {
    /** The document corpus; N× is [[replicas]] of it. */
    case object Corpus extends Input
    /** [[synthPanel]] with `series` series of `len` rows; N× has
      * `series·N` series, or `series·√N` for pairwise ops (`pairs`), so
      * their work grows N× in pairs. */
    final case class Panel(series: Int, len: Int, pairs: Boolean = false)
      extends Input {
      def seriesAt(factor: Int): Int =
        if (pairs) math.round(series * math.sqrt(factor.toDouble)).toInt
        else series * factor
    }
  }

  final case class ScaleLeg(name: String, input: Input,
      body: DataFrame => DataFrame)

  private val Hourly = Input.Panel(1000, 1000)

  /** Split a panel into odd/even hours, so both as-of sides scale with
    * the series count. */
  def asofSides(p: DataFrame): (DataFrame, DataFrame) = {
    val hr = (unix_micros(col("ts").cast("timestamp")) / 3600000000L) % 2
    (p.filter(hr === 0).select("user_id", "ts", "value"),
      p.filter(hr === 1).select(col("user_id"), col("ts"),
        col("value").as("rv")))
  }

  /** Every 24th panel row opens a 6 h interval, so both range-join sides
    * scale with rows. */
  def ivsOf(p: DataFrame): DataFrame =
    p.filter(pmod(unix_micros(col("ts").cast("timestamp")) /
        3600000000L, lit(24)) === 0)
      .select(col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"))

  private def zorder(df: DataFrame): DataFrame =
    Layout.zorderBy(df.withColumn("hr",
        expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 4096")),
      Seq("user_id", "hr"), numFiles = 32, bits = 12)

  val minhashLsh = ScaleLeg("minhash_lsh", Input.Corpus,
    Dedup.minhashLsh(_, threshold = 0.5))
  val lineDedup = ScaleLeg("line_dedup", Input.Corpus,
    d => Dedup.lineDedup(SparkEntry.linedDocs(d)))
  val knPerplexity = ScaleLeg("kn_perplexity", Input.Corpus,
    TextOps.knPerplexity(_, buckets = 4096))
  val packExecute = ScaleLeg("pack_execute", Input.Corpus,
    Packing.executePack(_, seqLen = 128, nShards = 8))
  val cmsSketch = ScaleLeg("cms_sketch", Input.Corpus,
    Sketches.cmsSketch(_))
  // sketch-only path: hllDistinctTokens also runs the exact
  // count(DISTINCT) audit, whose shuffle grows with vocabulary —
  // timing it would measure the audit, not the fixed registers
  val hllSketch = ScaleLeg("hll_distinct", Input.Corpus,
    Sketches.hllDistinctSketch(_))

  /** The scale legs both [[Bench]] (1×/10×) and `tools.DeepScale`
    * (1×/N×) run. Sketches: the token scan scales linearly but the
    * shuffled state is fixed (depth·width counters, 2^b registers per
    * group), so their ratio tracks the scan, never the shuffle. Temporal
    * joins: rows and keys both scale, so each plan's contract is ~linear;
    * z-order's range exchange + sort is the one intentionally
    * n log n op. */
  val scaleLegs: Seq[ScaleLeg] = Seq(
    minhashLsh, lineDedup, knPerplexity, packExecute,
    ScaleLeg("curation_metrics", Input.Corpus, TextOps.curationMetrics(_)),
    cmsSketch, hllSketch,
    ScaleLeg("asof_join", Hourly, p => { val (l, r) = asofSides(p)
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts", Seq("rv")) }),
    ScaleLeg("asof_native", Hourly, p => { val (l, r) = asofSides(p)
      TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts",
        Seq("rv")) }),
    ScaleLeg("sessionize", Hourly, p =>
      TemporalJoins.sessionize(p, Seq("user_id"), "ts",
          gapUs = 2L * 3600 * 1000000)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"))),
    ScaleLeg("range_join", Hourly, p =>
      TemporalJoins.rangeJoin(p.select("user_id", "ts", "value"), ivsOf(p),
        Seq("user_id"), "ts", "w_start", "w_end",
        bucketUs = 6L * 3600 * 1000000)),
    ScaleLeg("range_native", Hourly, p =>
      TemporalJoins.rangeJoinNative(p.select("user_id", "ts", "value"),
        ivsOf(p), Seq("user_id"), "ts", "w_start", "w_end")),
    ScaleLeg("group_dynamic", Hourly, p =>
      Resample.groupByDynamic(p, every = "30 minutes", period = "2 hours")),
    ScaleLeg("zorder_layout", Hourly, zorder))

  val pelt = ScaleLeg("pelt_panel", Hourly,
    Changepoint.pelt(_, "mean"))
  val mannKendall = ScaleLeg("mann_kendall_panel", Hourly,
    Changepoint.mannKendall(_))
  val dtwBand = ScaleLeg("pairwise_dtw_band",
    Input.Panel(500, 100, pairs = true),
    Distances.pairwise(_, "dtw", Map("window" -> 10.0)))
  val spanDedup = ScaleLeg("span_dedup", Input.Corpus,
    Dedup.spanDedup(_))
  val dsirWeights = ScaleLeg("dsir_weights", Input.Corpus,
    Selection.dsirWeights(_, col("lang") === "en", buckets = 64))
  def classifierScore(c: Ctx): ScaleLeg = ScaleLeg("classifier_score",
    Input.Corpus, Selection.textClassifierScore(_, c.clfModel))

  /** The scale legs only [[Bench]]'s 10× suite runs: the grouped-panel
    * contract says work scales with rows (pelt/mk/ets: 10× series) and
    * with pairs for the pairwise ops; the per-series O(n²) matrix
    * profile at fixed length is linear in series. */
  def benchScaleLegs(c: Ctx): Seq[ScaleLeg] = Seq(
    pelt, mannKendall,
    ScaleLeg("matrix_profile", Input.Panel(1000, 200),
      Advanced.matrixProfile(_, m = 8)),
    ScaleLeg("ets_panel", Hourly, ForecastBaselines.multiForecast(_,
      h = 12, Seq("ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12))))),
    dtwBand, spanDedup, dsirWeights, classifierScore(c))

  def semDedup(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    Similarity.semDedup(emb, centroids, threshold = 0.95)

  def prototypePrune(emb: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    Similarity.prototypePrune(emb, centroids, keepFrac = 0.7)

  // ── timed legs ───────────────────────────────────────────────────────

  private def query(name: String)(c: Ctx): DataFrame =
    SparkEntry.queries(name)(c.spark, c.sfDir)

  private def freshDocs(c: Ctx): DataFrame = IO.documents(c.spark, c.sfDir)

  private def onDocs(s: ScaleLeg, tier: Tier): Leg =
    Leg(s.name, tier, c => s.body(c.docs))

  private def onPanel(name: String, s: ScaleLeg, series: Int,
      len: Int): Leg =
    Leg(name, Tier.Core, c => s.body(synthPanel(c.spark, series, len)))

  /** Purchases (left) and clicks (right) of the sf events table. */
  private def purchaseClick(ev: DataFrame): (DataFrame, DataFrame) =
    (ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts"),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value")))

  /** Clicks (points) and 1-day windows opened by errors (intervals). */
  private def clickErrorWindows(ev: DataFrame): (DataFrame, DataFrame) =
    (ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts")),
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 DAY")).as("w_end")))

  /** Every timed leg, in timing order. The names are the bench line's
    * `queries` keys: renaming or dropping one breaks the bench line's
    * round-over-round comparison. */
  val timed: Seq[Leg] = Seq(
    // sf-scale engine queries (the headline `value`)
    Leg("q1_agg", Tier.Core, query("q1_agg")),
    Leg("window_pipeline", Tier.Core, c =>
      Features.rollingFeatures(
        Features.calendarFeatures(
          Features.lagFeatures(c.events, Seq(1, 7, 14))), Seq(7))),
    Leg("forecast_score", Tier.Core, c => {
      val fc = ForecastBaselines.ses(c.events, h = 7)
      val pred = c.events.withColumn("y_hat", lag(col("value"), 1).over(PC.w))
        .filter(col("y_hat").isNotNull)
      Metrics.grouped(pred, "value", "y_hat").join(
        fc.groupBy("user_id").agg(avg("y_hat").as("fc_mean")), Seq("user_id"))
    }),
    Leg("impute_outliers", Tier.Core, c =>
      Outliers.treat(Outliers.detect(
        Impute.impute(c.events, "forward_fill"), "zscore"), "clip")),
    Leg("resample_decompose", Tier.Core, c =>
      Decomposition.seasonal(c.events, freq = 24)),
    Leg("dedup_exact", Tier.Core, c => Dedup.exact(freshDocs(c))),
    Leg("minhash_lsh", Tier.Core, c => minhashLsh.body(freshDocs(c))),
    Leg("text_quality", Tier.Core, c =>
      TextOps.qualityMetrics(freshDocs(c).drop("n_chars"))),
    Leg("knn_brute", Tier.Core, c => {
      val emb = IO.embeddings(c.spark, c.sfDir)
      Similarity.bruteForceTopK(emb, emb.limit(100), k = 10)
    }),
    Leg("cusum_changepoint", Tier.Core, c => Changepoint.cusum(c.events)),
    // reference harness shapes (BASELINE.md): pairwise / PELT / ETS
    Leg("pairwise_dtw_50x30", Tier.Core, c =>
      Distances.pairwise(synthPanel(c.spark, 50, 30), "dtw")),
    onPanel("pairwise_dtw_band_500x100", dtwBand, 500, 100),
    onPanel("pelt_panel_1000x1000", pelt, 1000, 1000),
    // both ETS models from ONE grouped pass: a single shuffle of the
    // 1M-row panel instead of 2 scans × (groupBy + futureDates window)
    Leg("ets_panel_1000x1000", Tier.Core, c =>
      ForecastBaselines.multiForecast(synthPanel(c.spark, 1000, 1000), h = 12,
        Seq(
          "ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12)),
          "hw" -> (ys =>
            graft.kernels.Ets.holtWinters(ys, 0.3, 0.1, 0.1, 12, true, 12))))),
    onPanel("mann_kendall_panel", mannKendall, 1000, 1000),

    // curation (summed into `total_full` only)
    Leg("semdedup", Tier.Curation, c => {
      val emb = IO.embeddings(c.spark, c.sfDir).select("vec_id", "embedding")
      semDedup(emb, Similarity.ivfCentroids(emb))
    }),
    Leg("unigram_logprob", Tier.Curation, c =>
      TextOps.unigramLogProb(freshDocs(c), vocabSize = 500)),
    Leg("pack_plan", Tier.Curation, c =>
      Packing.packPlan(freshDocs(c), seqLen = 128, nShards = 8)),
    Leg("curation_funnel", Tier.Curation, query("doc_curation_pipeline")),

    // neural: the broadcast-spec per-series forward (assignment) and the
    // zero-shuffle image-conv embedding map
    Leg("neural_assign", Tier.Neural, c =>
      DeepClustering.assign(c.events, c.decFit)),
    Leg("vision_embed", Tier.Neural, c => VisionEmbed.visionEmbeddings(c.events)),

    // selection: the distributed scoring/dedup passes over the cached corpus
    Leg("html_strip", Tier.Selection, c =>
      TextOps.htmlStrip(SparkEntry.htmlDocs(c.docs))),
    onDocs(lineDedup, Tier.Selection),
    onDocs(spanDedup, Tier.Selection),
    onDocs(knPerplexity, Tier.Selection),
    Leg("kn_target_ppl", Tier.Selection, c =>
      graft.streaming.StreamingOps.streamingKnScore(c.docs, c.knTargetModel)),
    onDocs(packExecute, Tier.Selection),
    onDocs(dsirWeights, Tier.Selection),
    Leg("classifier_score", Tier.Selection, c =>
      classifierScore(c).body(c.docs)),
    Leg("prototype_prune", Tier.Selection, c =>
      prototypePrune(c.emb, c.protoCenters)),

    // media: the real-codec decode paths (encode fixture + decode + stats
    // inside one narrow UDF pass over the corpus)
    Leg("media_funnel", Tier.Media, query("mm_curation_funnel")),
    Leg("media_pixels", Tier.Media, query("mm_pixel_features")),
    Leg("media_jpeg", Tier.Media, query("mm_jpeg_features")),
    Leg("media_resize", Tier.Media, query("mm_resize")),
    Leg("media_scenes", Tier.Media, query("mm_scene_changes")),
    Leg("media_audio_seg", Tier.Media, query("mm_audio_segments")),

    // temporal joins on the sf events table, re-scanned every draw (the
    // shapes a feature pipeline runs per training snapshot)
    Leg("asof_join", Tier.Temporal, c => {
      val (l, r) = purchaseClick(c.eventsSf)
      TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"))
    }),
    // the same as-of join through its whole-operator name; asof_join
    // delegates to it, so the two legs run one plan
    Leg("asof_native", Tier.Temporal, c => {
      val (l, r) = purchaseClick(c.eventsSf)
      TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"))
    }),
    Leg("range_join", Tier.Temporal, c => {
      val (clk, err) = clickErrorWindows(c.eventsSf)
      TemporalJoins.rangeJoin(clk, err, Seq("user_id"), "ts",
        "w_start", "w_end", bucketUs = 6L * 3600 * 1000000)
    }),
    // the same range join through its whole-operator name; range_join
    // delegates to it, so the two legs run one plan
    Leg("range_native", Tier.Temporal, c => {
      val (clk, err) = clickErrorWindows(c.eventsSf)
      TemporalJoins.rangeJoinNative(clk, err, Seq("user_id"), "ts",
        "w_start", "w_end")
    }),
    Leg("sessionize", Tier.Temporal, c =>
      TemporalJoins.sessionize(c.eventsSf, Seq("user_id"), "ts",
          gapUs = 6L * 3600 * 1000000, tieBreak = Seq("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"))),
    // z-order rewrite: the range-exchange + sort a layout OPTIMIZE pays
    Leg("zorder_layout", Tier.Temporal, c => zorder(c.eventsSf)),
    Leg("group_dynamic", Tier.Temporal, c =>
      Resample.groupByDynamic(c.eventsSf, every = "30 minutes",
        period = "2 hours")),
    Leg("rolling_by_time", Tier.Temporal, c =>
      Features.rollingByTime(c.eventsSf, windowUs = 6L * 3600 * 1000000,
        aggs = Seq("mean", "count"))),

    // sketches and foundation tokenization: bounded-state aggregations
    // (CMS counters, HLL registers — fixed shuffle size regardless of
    // corpus) and the Chronos map a foundation corpus pays per pass
    Leg("cms_heavy", Tier.Sketch, c =>
      Sketches.cmsHeavyHitters(c.docs, minFrac = 0.01)),
    Leg("hll_distinct", Tier.Sketch, c => Sketches.hllDistinctTokens(c.docs)),
    Leg("chronos_tokens", Tier.Sketch, c =>
      graft.ops.Foundation.chronosTokenize(c.events)))

  /** The timed legs named in a comma-separated list, in registry order.
    * An unknown name fails, naming it. */
  def select(names: String): Seq[Leg] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- timed.map(_.name)
    require(unknown.isEmpty,
      s"unknown bench leg(s): ${unknown.toSeq.sorted.mkString(", ")}")
    timed.filter(l => wanted.contains(l.name))
  }
}
