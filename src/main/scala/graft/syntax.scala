package graft

import graft.core.PanelCols
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's `df.pts.*` namespace (polars-ts registers a Polars
  * plugin namespace; Spark-side the same UX is an implicit enrichment):
  *
  * {{{
  * import graft.syntax._
  * implicit val pc: PanelCols = PanelCols()
  * df.pts.lagFeatures(Seq(1, 2, 7)).pts.rollingFeatures(Seq(24))
  * }}}
  *
  * Every method delegates to the corresponding operator object — this is
  * sugar, not a second implementation. */
object syntax {

  implicit class PtsDataFrame(private val df: DataFrame) extends AnyVal {
    def pts(implicit pc: PanelCols): Pts = new Pts(df, pc)
  }

  final class Pts(df: DataFrame, pc: PanelCols) {
    private implicit def pcols: PanelCols = pc

    // preprocessing
    def impute(method: String = "forward_fill"): DataFrame = Impute.impute(df, method)
    def detectOutliers(method: String = "zscore", threshold: Double = 3.0,
        window: Int = 21): DataFrame = Outliers.detect(df, method, threshold, window)
    def treatOutliers(method: String = "clip"): DataFrame = Outliers.treat(df, method)
    def downsample(unit: String, agg: String = "mean"): DataFrame =
      Resample.downsample(df, unit, agg)
    def groupByDynamic(every: String, period: String,
        agg: String = "mean"): DataFrame =
      Resample.groupByDynamic(df, every, period, agg = agg)
    def rollingByTime(windowUs: Long,
        aggs: Seq[String] = Seq("mean", "min", "max", "count")): DataFrame =
      Features.rollingByTime(df, windowUs, aggs)
    def ewm(alpha: Double, adjust: Boolean = true): DataFrame =
      Features.ewmFeatures(df, alpha, adjust)
    def logTransform(): DataFrame = Transforms.logTransform(df)
    def boxcox(lambda: Double): DataFrame = Transforms.boxcoxTransform(df, lambda)
    def difference(d: Int = 1, m: Int = 1): DataFrame = Transforms.difference(df, d, m)

    // features
    def lagFeatures(lags: Seq[Int]): DataFrame = Features.lagFeatures(df, lags)
    def rollingFeatures(windows: Seq[Int],
        aggs: Seq[String] = Seq("mean", "std", "min", "max")): DataFrame =
      Features.rollingFeatures(df, windows, aggs)
    def calendarFeatures(): DataFrame = Features.calendarFeatures(df)
    def fourierFeatures(period: Double, k: Int): DataFrame =
      Features.fourierFeatures(df, period, k)
    def timeEmbeddings(components: Seq[String] = Seq("hour", "day_of_week", "month")): DataFrame =
      Features.timeEmbeddings(df, components)
    def targetEncode(catCol: String, smoothing: Double = 10.0): DataFrame =
      Features.targetEncode(df, catCol, smoothing)

    // decomposition & diagnostics
    def seasonalDecompose(freq: Int, model: String = "additive"): DataFrame =
      Decomposition.seasonal(df, freq, model)
    def strengthFeatures(freq: Int): DataFrame = Decomposition.strengthFeatures(df, freq)
    def acf(maxLag: Int): DataFrame = Diagnostics.acf(df, maxLag)
    def pacf(maxLag: Int): DataFrame = Diagnostics.pacf(df, maxLag)
    def ljungBox(maxLag: Int): DataFrame = Diagnostics.ljungBox(df, maxLag)
    def complexity(m: Int = 3, sampM: Int = 2, sampR: Double = 0.5): DataFrame =
      Diagnostics.complexity(df, m, sampM, sampR)
    def cusum(): DataFrame = Changepoint.cusum(df)
    def pelt(cost: String = "mean"): DataFrame = Changepoint.pelt(df, cost)
    def bocpd(hazardRate: Double = 200.0, threshold: Double = 0.5,
        pruneThreshold: Double = 0.0): DataFrame =
      Changepoint.bocpd(df, hazardRate, threshold, pruneThreshold)
    def mannKendall(): DataFrame = Changepoint.mannKendall(df)
    def matrixProfile(m: Int): DataFrame = Advanced.matrixProfile(df, m)
    def matrixProfileBlocked(m: Int, numBlocks: Int = 32): DataFrame =
      Advanced.matrixProfileBlocked(df, m, numBlocks)
    def mpAbJoin(ref: DataFrame, m: Int): DataFrame =
      Advanced.mpAbJoin(df, ref, m)
    def discords(m: Int, k: Int = 3): DataFrame = Advanced.discords(df, m, k)
    def motifs(m: Int, k: Int = 3): DataFrame = Advanced.motifs(df, m, k)
    def patternSearch(pattern: Array[Double], k: Int = 3): DataFrame =
      Advanced.patternSearch(df, pattern, k)

    // forecasting
    def naive(h: Int): DataFrame = ForecastBaselines.naive(df, h)
    def seasonalNaive(h: Int, seasonLength: Int): DataFrame =
      ForecastBaselines.seasonalNaive(df, h, seasonLength)
    def ses(h: Int, alpha: Double = 0.3): DataFrame = ForecastBaselines.ses(df, h, alpha)
    def holt(h: Int): DataFrame = ForecastBaselines.holt(df, h)
    def holtWinters(h: Int, m: Int): DataFrame = ForecastBaselines.holtWinters(df, h, m)
    def autoArima(h: Int): DataFrame = Advanced.autoArima(df, h)
    def arima(p: Int, d: Int, q: Int, h: Int): DataFrame =
      Advanced.arimaForecast(df, p, d, q, h)

    // validation & clustering
    def expandingWindowCv(folds: Int, horizon: Int): DataFrame =
      Validation.expandingWindowCv(df, folds, horizon)
    def rollingOriginCv(nSplits: Int, horizon: Int = 1): DataFrame =
      Validation.rollingOriginCv(df, nSplits, horizon)
    def pairwise(metric: String, params: Map[String, Double] = Map.empty): DataFrame =
      Distances.pairwise(df, metric, params)
    def kmedoids(k: Int, metric: String = "dtw"): DataFrame =
      Clustering.kmedoids(df, k, metric)
    def kshape(k: Int): DataFrame = Clustering.kshapeCluster(df, k)

    // neural tier (round 8): deep clustering + global deep forecasters
    def decCluster(k: Int): DataFrame = DeepClustering.decCluster(df, k)
    def idecCluster(k: Int): DataFrame = DeepClustering.idecCluster(df, k)
    def contrastiveCluster(k: Int): DataFrame =
      DeepClustering.contrastiveCluster(df, k)
    def nbeats(h: Int, inputSize: Int = 36): DataFrame =
      DeepForecast.nbeatsForecast(df,
        graft.kernels.NBeats.Cfg(h = h, inputSize = inputSize))
    def patchTst(h: Int, inputSize: Int = 64): DataFrame =
      DeepForecast.patchTstForecast(df,
        graft.kernels.Transformer.PatchCfg(h = h, inputSize = inputSize))
    def visionEmbeddings(): DataFrame = VisionEmbed.visionEmbeddings(df)

    // foundation adapters (round 9): Chronos preprocessing, the
    // zero-shot-style dispatcher, and the embedding adapters
    def chronosTokenize(): DataFrame = Foundation.chronosTokenize(df)
    def foundationForecast(model: String, h: Int): DataFrame =
      Foundation.foundationForecast(df, model, h)
    def chronosEmbeddings(dim: Int = 16): DataFrame =
      Foundation.chronosEmbed(df, dim)
    def momentEmbeddings(dim: Int = 8, patchLen: Int = 8): DataFrame =
      Foundation.momentEmbed(df, dim, patchLen)

    // temporal joins & sessionization (round 9) — the polars
    // `join_asof` / interval / gap-session surface; panel defaults from
    // PanelCols (by = id, time = time col)
    def asofJoin(right: DataFrame, rightCols: Seq[String],
        direction: String = "backward", toleranceUs: Option[Long] = None,
        allowExactMatches: Boolean = true): DataFrame =
      TemporalJoins.asofJoin(df, right, Seq(pc.id), pc.time, pc.time,
        rightCols, direction, toleranceUs, allowExactMatches = allowExactMatches)
    /** [[asofJoin]] on the whole-operator tier (AsofJoinExec merge). */
    def asofJoinNative(right: DataFrame, rightCols: Seq[String],
        direction: String = "backward", toleranceUs: Option[Long] = None,
        allowExactMatches: Boolean = true): DataFrame =
      TemporalJoins.asofJoinNative(df, right, Seq(pc.id), pc.time, pc.time,
        rightCols, direction, toleranceUs, allowExactMatches = allowExactMatches)
    /** [[rangeJoinNative]] under its older signature; `bucketUs` is
      * accepted and ignored. */
    def rangeJoin(right: DataFrame, startCol: String, endCol: String,
        bucketUs: Long): DataFrame =
      TemporalJoins.rangeJoin(df, right, Seq(pc.id), pc.time,
        startCol, endCol, bucketUs)
    /** The range join on the whole-operator tier: the IntervalJoinExec
      * sweep, with a broadcast right side when it is small. */
    def rangeJoinNative(right: DataFrame, startCol: String, endCol: String,
        inclusiveEnd: Boolean = false): DataFrame =
      TemporalJoins.rangeJoinNative(df, right, Seq(pc.id), pc.time,
        startCol, endCol, inclusiveEnd)
    def sessionize(gapUs: Long): DataFrame =
      TemporalJoins.sessionize(df, Seq(pc.id), pc.time, gapUs,
        tieBreak = pc.tieBreak)
  }

  /** Corpus-curation namespace for document tables (`doc_id`, `text`) —
    * the training-data pipeline tier. Same delegation-only contract as
    * [[Pts]]:
    *
    * {{{
    * import graft.syntax._
    * docs.corpus.lineDedup().corpus.qualityMetrics()
    * }}}
    */
  implicit class PtsCorpusDataFrame(private val df: DataFrame) extends AnyVal {
    def corpus: Corpus = new Corpus(df)
  }

  final class Corpus(df: DataFrame) {
    // dedup
    def dedupExact(): DataFrame = Dedup.exact(df)
    def dedupCanonical(): DataFrame = Dedup.canonical(df)
    def lineDedup(minDocs: Int = 2): DataFrame = Dedup.lineDedup(df, minDocs)
    def spanDedup(n: Int = 5, minRun: Int = 4): DataFrame =
      Dedup.spanDedup(df, n, minRun)
    def minhashLsh(threshold: Double = 0.7): DataFrame =
      Dedup.minhashLsh(df, threshold = threshold)
    def minhashSignatures(): DataFrame = Dedup.minhashSignatures(df)
    def minhashIncremental(existingSigs: DataFrame,
        threshold: Double = 0.7): DataFrame =
      Dedup.minhashLshIncremental(df, existingSigs, threshold = threshold)
    def exactFingerprints(): DataFrame = Dedup.exactFingerprints(df)
    def dedupExactIncremental(existingFps: DataFrame): DataFrame =
      Dedup.exactIncremental(df, existingFps)
    def simhashIncremental(existingSims: DataFrame,
        maxHamming: Int = 3): DataFrame =
      Dedup.simhashIncremental(df, existingSims, maxHamming = maxHamming)
    def simhash(): DataFrame = Dedup.simhash(df)
    def dupNgramCoverage(n: Int = 5): DataFrame = Dedup.dupNgramCoverage(df, n)
    // quality & filters
    def normalizeText(): DataFrame = TextOps.normalizeText(df)
    def qualityMetrics(): DataFrame = TextOps.qualityMetrics(df)
    def languageId(): DataFrame = TextOps.languageId(df)
    def unigramLogProb(vocabSize: Int = 1000): DataFrame =
      TextOps.unigramLogProb(df, vocabSize = vocabSize)
    def knPerplexity(buckets: Int = 4096): DataFrame =
      TextOps.knPerplexity(df, buckets)
    def piiMetrics(): DataFrame = TextOps.piiMetrics(df)
    def lineFilters(minLineWords: Int = 3): DataFrame =
      TextOps.lineFilters(df, minLineWords = minLineWords)
    def repetitionMetrics(): DataFrame = TextOps.repetitionMetrics(df)
    def curate(): DataFrame = TextOps.curationMetrics(df)
    // selection
    def dsirWeights(isTarget: Column, buckets: Int = 64): DataFrame =
      Selection.dsirWeights(df, isTarget, buckets)
    def dsirResample(isTarget: Column, k: Int, buckets: Int = 64): DataFrame =
      Selection.dsirResample(df, isTarget, k, buckets)
    def qualityClassifierScore(m: Selection.TextClassifierModel): DataFrame =
      Selection.textClassifierScore(df, m)
    def domainMixWeights(groupCol: String, scoreCol: String,
        temperature: Double = 1.0, budget: Long = 1000L): DataFrame =
      Selection.domainMixWeights(df, groupCol, scoreCol, temperature, budget)
    // decontamination & downstream prep
    def decontaminate(bench: DataFrame, n: Int = 5): DataFrame =
      Decontam.ngramOverlap(df, bench, n)
    def packPlan(seqLen: Int, nShards: Int): DataFrame =
      Packing.packPlan(df, seqLen = seqLen, nShards = nShards)
    def executePack(seqLen: Int, nShards: Int = 32): DataFrame =
      Packing.executePack(df, seqLen, nShards)
    def chunkPlan(chunkTokens: Int = 64, stride: Int = 48): DataFrame =
      Packing.chunkPlan(df, chunkTokens, stride)

    // bounded-state sketches (round 9)
    def cmsHeavyHitters(minFrac: Double = 0.01): DataFrame =
      Sketches.cmsHeavyHitters(df, minFrac)
    def hllDistinct(groupCol: String = "source", b: Int = 8): DataFrame =
      Sketches.hllDistinctSketch(df, groupCol, b = b)
  }
}
