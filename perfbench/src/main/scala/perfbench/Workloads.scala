package perfbench

import graft.core.{IO, PanelCols}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One leg: builds the DataFrame whose rows are its output. */
final case class Leg(name: String, build: Ctx => DataFrame)

/** What legs see: the session, the input directory and the frames set-up
  * registered. `input` is the only way a leg reads parquet, so the time
  * spent in `IO.table` (the `core` layer's plan-time work) is measured
  * around it. */
final class Ctx(val spark: SparkSession, val inputDir: String) {
  var registered: Map[String, DataFrame] = Map.empty
  var scanNs: Long = 0L

  def input(name: String): DataFrame = {
    val t0 = System.nanoTime()
    try IO.table(spark, inputDir, name) finally scanNs += System.nanoTime() - t0
  }
  def apply(name: String): DataFrame = registered(name)
}

trait Workload {
  def name: String
  /** Writes this workload's inputs for `seed`; returns the input summary. */
  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Any]
  /** Set-up work a user job does once: read and cache what stays cached. */
  def register(ctx: Ctx): Unit = ()
  def legs: Seq[Leg]
}

object Workloads {
  val all: Seq[Workload] = Seq(PanelFeatures, TemporalSkew)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n'; choose from ${all.map(_.name).mkString(", ")}"))
}

/** Many uniform series, cached in memory: the per-series JVM kernels and
  * window functions do the work; no scan, no skew. */
object PanelFeatures extends Workload {
  val name = "panel_features"
  val NSeries = 400
  val Len = 480
  // the pairwise DTW leg runs on a subset (it is quadratic in series)
  val DtwSeries = 40
  val DtwLen = 100
  val DtwWindow = 10

  implicit val PC: PanelCols = PanelCols("series_id", "ts", "value")

  def generate(spark: SparkSession, dir: String, seed: Long) =
    Gen.writePanel(spark, dir, seed, NSeries, Len)

  override def register(ctx: Ctx): Unit = {
    val panel = ctx.input("panel").cache()
    val cov = ctx.input("covariates").cache()
    panel.count(); cov.count()
    ctx.registered = Map("panel" -> panel, "covariates" -> cov)
  }

  val legs = Seq(
    Leg("features", c => (Features.rollingFeatures(
      Features.calendarFeatures(Features.lagFeatures(c("panel"), Seq(1, 7, 14))),
      Seq(7)))),
    Leg("forecast_ets", c => (ForecastBaselines.multiForecast(c("panel"), h = 12, Seq(
      "ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12)),
      "hw" -> (ys => graft.kernels.Ets.holtWinters(ys, 0.3, 0.1, 0.1, 24, true, 12)))))),
    Leg("pelt", c => (Changepoint.pelt(c("panel"), "mean"))),
    Leg("mann_kendall", c => (Changepoint.mannKendall(c("panel")))),
    Leg("dtw_band", c => (Distances.pairwise(
      c("panel").filter(col("series_id") < DtwSeries &&
        col("ts") < timestamp_micros(lit(Gen.BaseUs + DtwLen * Gen.HourUs))
          .cast("timestamp_ntz")),
      "dtw", Map("window" -> DtwWindow.toDouble)))),
    Leg("group_dynamic", c => (
      Resample.groupByDynamic(c("panel"), every = "6 hours", period = "1 day"))),
    Leg("asof_covariates", c => (TemporalJoins.asofJoin(
      c("panel").select("series_id", "ts", "value"), c("covariates"),
      Seq("series_id"), "ts", "ts", Seq("cov")))))
}

/** A skewed event log read from parquet on every pass: scans, shuffles,
  * the as-of hot-key stats pass and the native join operators do the
  * work; the series kernels do almost none. */
object TemporalSkew extends Workload {
  val name = "temporal_skew"
  val NEvents = 50000
  val NUsers = 20000
  // P(hottest user) = (1/20000)^(1/3.92) ≈ 8%
  val SkewExp = 3.92
  // 400 hex chars of payload per event put the parquet file, and so both
  // as-of sides' plan estimates, above graft's 16 MB auto-salt floor
  val PropsHexChars = 400

  def generate(spark: SparkSession, dir: String, seed: Long) =
    Gen.writeEvents(spark, dir, seed, NEvents, NUsers, SkewExp, PropsHexChars)

  private def purchasesAndClicks(c: Ctx): (DataFrame, DataFrame) = {
    val ev = c.input("events")
    (ev.filter(col("event_type") === "purchase").select("user_id", "event_id", "ts"),
      ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("click_value")))
  }
  private def clicksAndErrorWindows(c: Ctx): (DataFrame, DataFrame) = {
    val ev = c.input("events")
    (ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts")),
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("w_start"), (col("ts") + expr("INTERVAL 1 DAY")).as("w_end")))
  }

  val legs = Seq(
    Leg("asof_join", c => { val (l, r) = purchasesAndClicks(c)
      (TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"))) }),
    Leg("asof_native", c => { val (l, r) = purchasesAndClicks(c)
      (TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts",
        Seq("click_id", "click_value"))) }),
    Leg("range_join", c => { val (clk, err) = clicksAndErrorWindows(c)
      (TemporalJoins.rangeJoin(clk, err, Seq("user_id"), "ts", "w_start", "w_end",
        bucketUs = 6L * Gen.HourUs)) }),
    Leg("range_native", c => { val (clk, err) = clicksAndErrorWindows(c)
      (TemporalJoins.rangeJoinNative(clk, err, Seq("user_id"), "ts",
        "w_start", "w_end")) }),
    Leg("sessionize", c => (TemporalJoins.sessionize(c.input("events"),
        Seq("user_id"), "ts", gapUs = 6L * Gen.HourUs, tieBreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min("ts").as("session_start"), count(lit(1)).as("n_events")))),
    Leg("rolling_by_time", c => (Features.rollingByTime(c.input("events"),
      windowUs = 6L * Gen.HourUs, aggs = Seq("mean", "count"))(
      PanelCols("user_id", "ts", "value", tieBreak = Seq("event_id"))))))
}
