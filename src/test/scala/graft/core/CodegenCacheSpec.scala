package graft.core

import graft.TestSpark
import graft.ops._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache must hold a whole pass of graft ops: at
  * Spark's default of 100 entries (4 LRU segments of 25) the perfbench
  * legs evict each other's classes, and every repeat of the pass compiles
  * them again with Janino. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit val pc: PanelCols = PanelCols("series_id", "ts", "value")

  private val HourUs = 3600L * 1000000L

  /** `n` hourly series of `len` points (a seasonal wave, a slope and one
    * level shift) and a 6-hourly covariate per series, both cached. */
  private def inputs(s: SparkSession, n: Int, len: Int): (DataFrame, DataFrame) = {
    val panel = s.range(0L, n.toLong * len, 1L, 4)
      .select((col("id") / len).cast("long").as("series_id"), (col("id") % len).as("t"))
      .select(col("series_id"),
        timestamp_micros(col("t") * HourUs).cast("timestamp_ntz").as("ts"),
        (sin(col("t") * (2 * math.Pi / 24)) + col("series_id") * 0.01 * col("t") +
          when(col("t") >= len / 2, lit(3.0)).otherwise(lit(0.0))).as("value"))
      .cache()
    val cov = s.range(0L, n.toLong * (len / 6), 1L, 4)
      .select((col("id") / (len / 6)).cast("long").as("series_id"),
        timestamp_micros(((col("id") % (len / 6)) * 6 + 3) * HourUs)
          .cast("timestamp_ntz").as("ts"),
        (col("id") % 7).cast("double").as("cov"))
      .cache()
    panel.count(); cov.count()
    (panel, cov)
  }

  /** The bodies of perfbench's seven `panel_features` legs and five of its
    * `temporal_skew` legs, run on the panel: ~125 distinct generated
    * classes, so at 100 entries every segment overflows. */
  private def legs(panel: DataFrame, cov: DataFrame): Seq[DataFrame] = {
    val windows = cov.select(col("series_id"), col("ts").as("w_start"),
      (col("ts") + expr("INTERVAL 1 DAY")).as("w_end"), col("cov").as("w_cov"))
    Seq(
      Features.rollingFeatures(
        Features.calendarFeatures(Features.lagFeatures(panel, Seq(1, 7, 14))), Seq(7)),
      ForecastBaselines.multiForecast(panel, h = 12, Seq(
        "ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12)),
        "hw" -> (ys => graft.kernels.Ets.holtWinters(ys, 0.3, 0.1, 0.1, 24, true, 12)))),
      Changepoint.pelt(panel, "mean"),
      Changepoint.mannKendall(panel),
      Distances.pairwise(
        panel.filter(col("series_id") < 8 &&
          col("ts") < timestamp_micros(lit(50 * HourUs)).cast("timestamp_ntz")),
        "dtw", Map("window" -> 10.0)),
      Resample.groupByDynamic(panel, every = "6 hours", period = "1 day"),
      TemporalJoins.asofJoin(panel.select("series_id", "ts", "value"), cov,
        Seq("series_id"), "ts", "ts", Seq("cov")),
      TemporalJoins.asofJoinNative(panel.filter(col("value") > 0), cov,
        Seq("series_id"), "ts", "ts", Seq("cov")),
      TemporalJoins.rangeJoin(panel, windows, Seq("series_id"), "ts", "w_start", "w_end",
        bucketUs = 6 * HourUs),
      TemporalJoins.rangeJoinNative(panel, windows, Seq("series_id"), "ts",
        "w_start", "w_end"),
      TemporalJoins.sessionize(panel.filter(col("value") > 1), Seq("series_id"), "ts",
          gapUs = 6 * HourUs)
        .groupBy(col("series_id"), col("session_id"))
        .agg(min("ts").as("session_start"), count(lit(1)).as("n_events")),
      Features.rollingByTime(panel, windowUs = 6 * HourUs, aggs = Seq("mean", "count")))
  }

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the engine defaults size the codegen cache at 1000 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a warm pass of the perfbench legs compiles no class") {
    val (panel, cov) = inputs(spark, 24, 240)
    try {
      // each pass rebuilds its DataFrames, as a repeated user job does
      def pass(): Long = {
        val k0 = compiled()
        legs(panel, cov).foreach(_.write.format("noop").mode("overwrite").save())
        compiled() - k0
      }
      // a warm pass can still compile a few classes: AQE numbers the
      // whole-stage codegen stages of a query differently in some runs,
      // and the stage id is part of the generated source. A cache that
      // thrashes recompiles in every pass, so the check is that one of
      // three warm passes compiles nothing.
      val first = pass()
      val warm = Seq(pass(), pass(), pass())
      assert(warm.min == 0L,
        s"every warm pass compiled classes: ${warm.mkString(", ")} (the first pass $first)")
    } finally {
      panel.unpersist()
      cov.unpersist()
    }
  }
}
