package graft

import scala.reflect.ClassTag

import graft.BenchLegs.PC
import graft.core.IO
import graft.ops._
import graft.plans.AsofJoinExec
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SortExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec,
  SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tree helpers for plan-shape assertions. Shapes are read from the
  * initial physical plan: the planner's joins and the exchanges
  * EnsureRequirements inserts, before AQE re-plans anything at run time,
  * so a count depends on the query and the table statistics only. */
object PlanShapes extends AdaptiveSparkPlanHelper {

  /** `df`'s physical plan from a fresh planning of its logical plan
    * with the session confs `confs`. */
  def replan(df: DataFrame, confs: Map[String, String] = Map.empty): SparkPlan =
    SkewSplitTesting.withConfs(df.sparkSession, confs) {
      df.sparkSession.asInstanceOf[classic.SparkSession].sessionState
        .executePlan(df.queryExecution.logical).executedPlan
    }

  /** The plan AQE starts from; a plan AQE does not wrap (no exchange, no
    * subquery) is its own initial plan. */
  def initial(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case other => other
  }

  def initialPlan(df: DataFrame): SparkPlan = initial(df.queryExecution.executedPlan)

  /** Whole-stage codegen stages of `df` planned with AQE off: under AQE
    * they only exist once the query stages run. */
  def codegenStages(df: DataFrame): Int =
    count[WholeStageCodegenExec](replan(df, Map("spark.sql.adaptive.enabled" -> "false")))

  def count[T <: SparkPlan: ClassTag](p: SparkPlan): Int =
    collect(p) { case n if implicitly[ClassTag[T]].runtimeClass.isInstance(n) => n }.size

  def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) { case e: ShuffleExchangeExec => e }

  def broadcasts(p: SparkPlan): Int = count[BroadcastExchangeExec](p)

  /** Shuffles that run as separate stages: AQE reuses one stage for
    * shuffles over identical subtrees. */
  def distinctShuffles(p: SparkPlan): Int = shuffles(p).map(_.canonicalized).distinct.size

  /** The hash keys of a shuffle (empty for any other partitioning). */
  def hashKeys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.map {
      case a: Attribute => a.name
      case x => x.sql
    }
    case _ => Nil
  }

  /** Every column some shuffle writes. */
  def shuffledColumns(p: SparkPlan): Set[String] =
    shuffles(p).flatMap(_.output.map(_.name)).toSet

  /** The columns each file scan reads (its ReadSchema). */
  def scanColumns(p: SparkPlan): Seq[Set[String]] =
    collect(p) { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet }

  def hasScalaUdf(p: SparkPlan): Boolean =
    collect(p) { case n => n }.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))

  /** A sort over the whole input (a global ORDER BY), as opposed to the
    * in-partition sorts of windows, sort-merge joins and sort aggregates. */
  def globalSorts(p: SparkPlan): Int = collect(p) { case s: SortExec if s.global => s }.size
}

/** The plan shapes graft's performance rests on, asserted on the bodies
  * of the bench legs, `SparkEntry` queries and direct op calls at
  * sf0.001: shuffle and broadcast counts and scan columns of the initial
  * plan, the operators that must be there or must not, and at least one
  * whole-stage codegen stage per body. Shapes other specs assert are not
  * asserted twice: the `pack execute` shape is in [[ops.PackPlanShapeSpec]],
  * the as-of merge and its per-side exchanges in
  * [[plans.AsofJoinNativeSpec]], the interval sweep in either
  * distribution in [[plans.IntervalJoinNativeSpec]]. */
class PlanShapeSpec extends AnyFunSuite {
  import PlanShapes._

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private lazy val ctx = new BenchLegs.Ctx(spark, dir)
  private def docs = IO.documents(spark, dir)
  private def ev = IO.events(spark, dir)
  private def emb = IO.embeddings(spark, dir)
  private def leg(name: String): DataFrame = BenchLegs.select(name).head.body(ctx)

  private val Panel4 = Set("user_id", "ts", "event_id", "value")
  private val DocText = Set("doc_id", "text")

  /** Registers `name`: builds `body`, requires a whole-stage codegen
    * stage, and runs `check` on the initial plan. */
  private def shape(name: String)(body: => DataFrame)(check: SparkPlan => Unit): Unit =
    test(name) {
      val df = body
      assert(codegenStages(df) > 0, "no whole-stage codegen stage")
      val p = initialPlan(df)
      withClue(p.treeString(verbose = false) + "\n")(check(p))
    }

  private def exchanges(p: SparkPlan, shuffled: Int, broadcast: Int): Unit = {
    assert(shuffles(p).size === shuffled, "shuffles")
    assert(broadcasts(p) === broadcast, "broadcasts")
  }

  /** Every shuffle hash-partitions on exactly `keys`. */
  private def allHashedOn(p: SparkPlan, keys: String*): Unit =
    shuffles(p).foreach(e => assert(hashKeys(e) === keys, e.outputPartitioning))

  private def scanOnly(p: SparkPlan, columns: Set[String]): Unit = {
    exchanges(p, 0, 0)
    assert(scanColumns(p) === Seq(columns))
  }

  private def noPairJoin(p: SparkPlan): Unit = {
    assert(count[BroadcastNestedLoopJoinExec](p) === 0)
    assert(count[CartesianProductExec](p) === 0)
  }

  // ── feature, window and forecast plans ──────────────────────────────

  shape("window feature pipeline: one shuffle, scan pruned to the panel columns")(
    Features.rollingFeatures(Features.lagFeatures(ev, Seq(1, 7)), Seq(7))
      .select("user_id", "ts", "value_lag_1", "value_rolling_mean_7")) { p =>
    exchanges(p, 1, 0)
    assert(scanColumns(p) === Seq(Panel4))
  }

  shape("q1_agg: partial aggregate below its one shuffle")(leg("q1_agg")) { p =>
    exchanges(p, 1, 0)
    assert(collect(shuffles(p).head.child) {
      case a: HashAggregateExec if a.aggregateExpressions.forall(_.mode == Partial) => a
    }.size === 1)
    assert(scanColumns(p) === Seq(Set("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")))
  }

  // the window orders by time and the tie-break, so event_id is read too
  shape("lag of one column reads the key, order and lagged columns only")(
    ev.select(col("user_id"), col("ts"), lag(col("value"), 1).over(PC.w).as("l1"))) { p =>
    exchanges(p, 1, 0)
    assert(scanColumns(p) === Seq(Panel4))
  }

  shape("naive forecast: one user_id shuffle per side, broadcast join")(
    ForecastBaselines.naive(ev, 7)) { p =>
    exchanges(p, 2, 1)
    allHashedOn(p, "user_id")
    assert(count[BroadcastHashJoinExec](p) === 1)
    assert(count[SortMergeJoinExec](p) === 0)
  }

  shape("multiForecast ses+hw: one grouped shuffle for both models")(
    ForecastBaselines.multiForecast(ev, 12, Seq(
      "ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12)),
      "hw" -> (ys => graft.kernels.Ets.holtWinters(ys, 0.3, 0.1, 0.1, 24, true, 12))))) { p =>
    exchanges(p, 1, 0)
    assert(count[ObjectHashAggregateExec](p) === 2)
  }

  shape("auto_arima: one grouped shuffle")(
    Advanced.autoArima(ev, h = 5, maxP = 1, maxQ = 1)) { p =>
    exchanges(p, 1, 0)
    assert(count[ObjectHashAggregateExec](p) === 2)
  }

  shape("pipeline forecast: grouped tails and series meta joined by broadcast")(
    Pipeline.pipelineForecast(ev, Pipeline.fitPipeline(ev, lags = Seq(1, 2)), h = 3)) { p =>
    exchanges(p, 3, 2)
    allHashedOn(p, "user_id")
    assert(count[BroadcastHashJoinExec](p) === 2)
    assert(count[SortMergeJoinExec](p) === 0)
    noPairJoin(p)
  }

  shape("enbpi predict: grouped tails and residuals joined by broadcast")(
    Conformal.enbpiPredict(ev, Conformal.enbpiFit(ev, lags = 2, b = 3), h = 2)) { p =>
    exchanges(p, 3, 2)
    allHashedOn(p, "user_id")
    assert(count[BroadcastHashJoinExec](p) === 2)
    assert(count[SortMergeJoinExec](p) === 0)
  }

  shape("mstl grouped kernel: one grouped shuffle")(
    Decomposition.mstlGrouped(ev, Seq(12, 24))) { p =>
    exchanges(p, 1, 0)
    assert(count[ObjectHashAggregateExec](p) === 2)
    assert(count[WindowExec](p) === 0)
  }

  // The row-level twin is the oracle-replayable form, not a production
  // path (MstlGroupedSpec checks the kernel against it); it asserts no
  // shape, only that its counts repeat when the same query is planned
  // again.
  shape("mstl row-level oracle twin: plan counts repeat across plannings")(
    Decomposition.mstl(ev, Seq(12, 24))) { p =>
    val again = initial(replan(Decomposition.mstl(ev, Seq(12, 24))))
    assert(shuffles(again).size === shuffles(p).size)
    assert(broadcasts(again) === broadcasts(p))
  }

  shape("chronos embed: scale window and one hash aggregate, no UDF")(
    Foundation.chronosEmbed(ev, dim = 4)) { p =>
    exchanges(p, 1, 0)
    assert(count[HashAggregateExec](p) === 2)
    assert(count[SortAggregateExec](p) + count[ObjectHashAggregateExec](p) === 0)
    assert(globalSorts(p) === 0)
    assert(!hasScalaUdf(p))
  }

  shape("moment embed: window and two chained hash aggregates on one shuffle")(
    Foundation.momentEmbed(ev, dim = 4, patchLen = 8)) { p =>
    exchanges(p, 1, 0)
    assert(count[HashAggregateExec](p) === 4)
  }

  shape("matrix profile blocked: grouped pass, block repartition, merge aggregate")(
    Advanced.matrixProfileBlocked(ev.filter(col("user_id") < 20), m = 8, numBlocks = 4)) { p =>
    exchanges(p, 4, 1)
    assert(shuffles(p).map(hashKeys(_).head).toSet === Set("user_id"))
    assert(shuffles(p).count(hashKeys(_).size == 2) === 2)
    noPairJoin(p)
  }

  // ── neural and adapter inference ─────────────────────────────────────

  shape("neural DEC assignment: one grouped shuffle")({
    val fit = graft.kernels.DeepModels.decFit(
      DeepClustering.collectSeries(ev, cap = 64).map(_._2),
      graft.kernels.DeepModels.DeepCfg(k = 2, embeddingDim = 3, nFilters = 2,
        pretrainEpochs = 2, finetuneEpochs = 1), idec = false)
    DeepClustering.assign(ev, fit)
  }) { p =>
    exchanges(p, 1, 0)
    allHashedOn(p, "user_id")
  }

  shape("vision embed: one grouped shuffle, narrow conv map")(
    VisionEmbed.visionEmbeddings(ev)) { p =>
    exchanges(p, 1, 0)
    assert(count[WindowExec](p) === 0)
  }

  shape("nbeats forecast: grouped panel joined to the scaffold by broadcast")({
    val fit = graft.kernels.NBeats.fit(
      DeepClustering.collectSeries(ev, cap = 64).map(_._2),
      graft.kernels.NBeats.Cfg(h = 3, inputSize = 12, hiddenSize = 8,
        nBlocks = 1, stackTypes = Seq("generic"), maxEpochs = 2))
    DeepForecast.forecastWith(ev, fit)
  }) { p =>
    exchanges(p, 2, 1)
    allHashedOn(p, "user_id")
    assert(count[BroadcastHashJoinExec](p) === 1)
  }

  shape("rl rollout: one grouped shuffle")(Adapters.rolloutNaive(ev)) { p =>
    exchanges(p, 1, 0)
    allHashedOn(p, "user_id")
  }

  // ── pairwise and similarity ──────────────────────────────────────────

  shape("emb_knn: queries broadcast into a nested-loop join, one top-k shuffle")(
    SparkEntry.queries("emb_knn_brute")(spark, dir)) { p =>
    exchanges(p, 1, 1)
    assert(count[BroadcastNestedLoopJoinExec](p) === 1)
    assert(count[CartesianProductExec](p) === 0)
    assert(scanColumns(p) === Seq.fill(2)(Set("vec_id", "embedding")))
  }

  // both sides group the panel over identical subtrees, so AQE runs the
  // grouping once; the round-robin spreads the streamed side
  shape("pairwise dtw: one grouping shuffle for both sides, broadcast pair join")(
    Distances.pairwise(ev, "dtw")) { p =>
    exchanges(p, 3, 1)
    assert(distinctShuffles(p) === 2)
    assert(shuffles(p).count(_.outputPartitioning.isInstanceOf[HashPartitioning]) === 2)
    assert(count[BroadcastNestedLoopJoinExec](p) === 1)
    assert(count[CartesianProductExec](p) === 0)
  }

  shape("semdedup: cell-keyed broadcast self-join, no all-pairs join")(leg("semdedup")) { p =>
    exchanges(p, 2, 1)
    assert(collect(p) { case j: BroadcastHashJoinExec if j.leftKeys.nonEmpty => j }.size === 1)
    noPairJoin(p)
  }

  shape("pca project: scan and map, no exchange")({
    val e = emb
    Embeddings.pcaProject(e, Embeddings.pcaFit(e, k = 4))
  })(scanOnly(_, Set("vec_id", "embedding")))

  shape("mmr rerank: one grouped shuffle on the query id")({
    val e = emb
    val topk = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 10)
      .select(col("query_id"), col("neighbor_id").as("cand_id"), col("cosine").as("rel"))
    Similarity.mmrRerank(topk.join(
      e.select(col("vec_id").as("cand_id"), col("embedding")), "cand_id"), k = 5)
  }) { p =>
    exchanges(p, 1, 2)
    allHashedOn(p, "query_id")
    assert(count[ObjectHashAggregateExec](p) === 2)
    assert(count[SortMergeJoinExec](p) === 0)
  }

  shape("prototype prune: narrow centroid map, histogram bins shuffled, embeddings never")({
    val e = emb.select("vec_id", "embedding")
    BenchLegs.prototypePrune(e, Similarity.ivfCentroids(e))
  }) { p =>
    exchanges(p, 3, 1)
    assert(!shuffledColumns(p).contains("embedding"))
    assert(globalSorts(p) === 0)
    assert(count[CartesianProductExec](p) === 0)
  }

  // ── corpus curation ──────────────────────────────────────────────────

  // Dedup.duplicateGroups runs its label rounds eagerly, so its result
  // is a checkpoint scan and has no shape to assert
  shape("dedup groups: codegen only")(Dedup.duplicateGroups(
    BenchLegs.minhashLsh.body(docs.select("doc_id", "text"))))(_ => ())

  shape("decontaminate: bench grams broadcast, corpus text never shuffled")({
    val d = docs
    Decontam.ngramOverlap(d, d.filter(col("doc_id") % 20 === 0), n = 5)
  }) { p =>
    exchanges(p, 2, 1)
    assert(count[BroadcastHashJoinExec](p) === 1)
    assert(count[SortMergeJoinExec](p) === 0)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("pii scrub: scan and regexp project, no exchange")(
    TextOps.piiMetrics(docs).select("doc_id", "n_emails", "pii_flag"))(scanOnly(_, DocText))

  shape("unigram logprob: broadcast vocabulary join, one combined aggregate")(
    leg("unigram_logprob")) { p =>
    exchanges(p, 2, 1)
    assert(count[BroadcastHashJoinExec](p) === 1)
    assert(count[HashAggregateExec](p) === 2)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("dup ngram coverage: gram hashes shuffled, text never")(
    Dedup.dupNgramCoverage(docs.select("doc_id", "text"))) { p =>
    exchanges(p, 3, 1)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("pack plan: one shuffle on the shard key")(leg("pack_plan")) { p =>
    exchanges(p, 1, 0)
    allHashedOn(p, "shard")
  }

  // the shape is PackPlanShapeSpec's first test
  shape("pack execute: codegen only")(BenchLegs.packExecute.body(docs))(_ => ())

  shape("temperature sample: broadcast plan join, then a per-group rank")(
    Sampling.temperatureSample(docs, "source", "doc_id", budget = 300, alpha = 0.5)) { p =>
    exchanges(p, 4, 2)
    assert(count[BroadcastHashJoinExec](p) === 1)
    assert(count[SortMergeJoinExec](p) === 0)
    assert(count[WindowExec](p) === 1)
  }

  shape("line dedup: line hashes shuffled, boilerplate filtered before the join-back")(
    BenchLegs.lineDedup.body(docs)) { p =>
    exchanges(p, 3, 1)
    val Seq(j) = collect(p) { case j: BroadcastHashJoinExec => j }
    assert(collect(j.right) { case f: FilterExec => f }.nonEmpty)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("kn perplexity: bounded model aggregates, broadcast score join, no corpus sort")(
    BenchLegs.knPerplexity.body(docs)) { p =>
    exchanges(p, 10, 7)
    assert(count[BroadcastHashJoinExec](p) > 0)
    assert(globalSorts(p) === 0)
    assert(!shuffles(p).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("dsir weights: bucket-model shuffle, broadcast llr join")(
    BenchLegs.dsirWeights.body(docs)) { p =>
    exchanges(p, 3, 1)
    assert(count[BroadcastHashJoinExec](p) === 1)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("span dedup: hash-keyed frequency shuffle, doc-keyed flag join, text never shuffled")(
    BenchLegs.spanDedup.body(docs)) { p =>
    exchanges(p, 3, 2)
    assert(count[BroadcastHashJoinExec](p) === 2)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("normalize text: scan and regexp project, no exchange")(
    TextOps.normalizeText(docs).select("doc_id", "norm_text"))(scanOnly(_, DocText))

  shape("pretokenize: scan and regexp project, no exchange")(
    TextOps.preTokenize(docs).select(col("doc_id"), size(col("pre_tokens")).as("n")))(
    scanOnly(_, DocText))

  shape("html strip: scan and regexp project, no exchange")(
    TextOps.htmlStrip(docs).select("doc_id", "text"))(scanOnly(_, DocText))

  shape("cms sketch: one bounded aggregate shuffle")(BenchLegs.cmsSketch.body(docs)) { p =>
    exchanges(p, 1, 0)
    assert(!shuffledColumns(p).contains("text"))
  }

  shape("hll sketch: register aggregate shuffles")(BenchLegs.hllSketch.body(docs)) { p =>
    exchanges(p, 2, 0)
    assert(shuffles(p).map(hashKeys).toSet === Set(Seq("source"), Seq("source", "register")))
  }

  // ── media decode ─────────────────────────────────────────────────────

  shape("media funnel: scan and decode project, no exchange")(
    Multimodal.mediaFunnel(docs.withColumn("payload", encode(col("text"), "UTF-8")), "payload")
      .select("doc_id", "media_type", "keep"))(scanOnly(_, DocText))

  // the one shuffle is the fixture's limit(50), not the operator
  shape("media frames: narrow decode and explode")({
    val mkVid = udf { (id: Long) =>
      Multimodal.y4mEncode(8, 6, "C420",
        Seq(Array.tabulate(72)(i => ((id * 7 + i) % 256).toByte)))
    }
    Multimodal.extractFrames(docs.limit(50).withColumn("video", mkVid(col("doc_id"))),
      "video", stride = 1)
  }) { p =>
    exchanges(p, 1, 0)
    assert(shuffles(p).head.outputPartitioning === SinglePartition)
    assert(count[GenerateExec](p) === 1)
  }

  shape("scene changes: fold inside the decode walk, no exchange")({
    val mkVid = udf { (id: Long) =>
      Multimodal.y4mEncode(8, 6, "C420", (0 until 4).map(f =>
        Array.tabulate(72)(i => ((id * 7 + f * 50 + i) % 256).toByte)))
    }
    Multimodal.sceneChanges(docs.filter(col("doc_id") < 50)
      .withColumn("video", mkVid(col("doc_id"))), "video", 30.0)
  })(scanOnly(_, Set("doc_id")))

  shape("audio segments: fold inside the decode walk, no exchange")({
    val mkWav = udf { (id: Long) =>
      Multimodal.wavEncodePcm16(16000, 1,
        Array.tabulate(600)(i => if ((i / 256) % 2 == 0) 0 else 12000))
    }
    Multimodal.audioSegments(docs.filter(col("doc_id") < 50)
      .withColumn("audio", mkWav(col("doc_id"))), "audio", 0.05)
  })(scanOnly(_, Set("doc_id")))

  // ── temporal and layout ──────────────────────────────────────────────

  // AsofJoinNativeSpec asserts the merge and its per-side exchanges
  shape("asof join: no Spark join operator")(leg("asof_join")) { p =>
    assert(count[AsofJoinExec](p) === 1)
    assert(count[BaseJoinExec](p) === 0)
  }

  // IntervalJoinNativeSpec asserts the sweep in both distributions
  shape("range join: interval sweep, no Spark join operator")(leg("range_join")) { p =>
    assert(count[graft.plans.IntervalJoinExec](p) === 1)
    assert(count[BaseJoinExec](p) === 0)
  }

  shape("graft_asof TVF: AsofJoinExec over two per-side shuffles")({
    graft.plans.GraftFunctions.register(spark)
    ev.filter(col("event_type") === "purchase").select("user_id", "event_id", "ts")
      .createOrReplaceTempView("shape_asof_l")
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      .createOrReplaceTempView("shape_asof_r")
    spark.sql("SELECT * FROM graft_asof('shape_asof_l', 'shape_asof_r'," +
      " 'user_id', 'ts', 'ts', 'click_id')")
  }) { p =>
    exchanges(p, 2, 0)
    assert(count[AsofJoinExec](p) === 1)
    assert(count[BaseJoinExec](p) === 0)
  }

  shape("sessionize summary: the window's shuffle serves the aggregate")(
    leg("sessionize")) { p =>
    exchanges(p, 1, 0)
    allHashedOn(p, "user_id")
    assert(count[WindowExec](p) === 2)
    assert(count[HashAggregateExec](p) === 2)
  }

  shape("zorder rewrite: one range shuffle and an in-partition sort")(
    leg("zorder_layout")) { p =>
    exchanges(p, 1, 0)
    assert(shuffles(p).head.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(count[SortExec](p) === 1)
    assert(globalSorts(p) === 0)
    assert(!hasScalaUdf(p))
  }
}
