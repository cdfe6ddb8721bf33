package graft.ops

import graft.TestSpark
import graft.core.PanelCols
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for ops not covered 1:1 by the DuckDB oracle gate
  * (roundtrips, coherence properties, streaming-vs-batch equivalence). */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit val pc: PanelCols = PanelCols()

  private def panel(values: Seq[(String, Int, Double)]) = {
    import spark.implicits._
    values.toDF("unique_id", "__h", "y")
      .withColumn("ds", timestamp_micros(col("__h") * 3600000000L))
      .drop("__h")
  }

  private val twoSeries = panel(
    (0 until 30).map(i => ("a", i, 10.0 + i + (if (i % 2 == 0) 1.0 else -1.0))) ++
    (0 until 30).map(i => ("b", i, 100.0 - 2.0 * i)))

  test("difference/undifference roundtrip is exact (d=2, m=3)") {
    val diffed = Transforms.difference(twoSeries, d = 2, m = 3)
    val restored = Transforms.undifference(diffed, d = 2, m = 3)
    val orig = twoSeries.select(col("unique_id"), col("ds"), col("y").as("orig"))
    val joined = restored.join(orig, Seq("unique_id", "ds"))
    assert(joined.count() == 60)
    val maxErr = joined.agg(max(abs(col("y") - col("orig")))).collect()(0).getDouble(0)
    assert(maxErr < 1e-9, s"roundtrip error $maxErr")
  }

  test("log and boxcox transforms invert exactly") {
    val lt = Transforms.inverseLogTransform(Transforms.logTransform(twoSeries))
    val e1 = lt.join(twoSeries.withColumnRenamed("y", "o"), Seq("unique_id", "ds"))
      .agg(max(abs(col("y") - col("o")))).collect()(0).getDouble(0)
    assert(e1 < 1e-9)
    val bc = Transforms.inverseBoxcoxTransform(
      Transforms.boxcoxTransform(twoSeries, 0.5), 0.5)
    val e2 = bc.join(twoSeries.withColumnRenamed("y", "o"), Seq("unique_id", "ds"))
      .agg(max(abs(col("y") - col("o")))).collect()(0).getDouble(0)
    assert(e2 < 1e-9)
  }

  test("bottom-up reconciliation is coherent: parents equal child sums") {
    val fc = ForecastBaselines.naive(twoSeries, h = 3)
      .select(col("unique_id"), col("ds"), col("y_hat"))
    val edges = Seq(("total", "a"), ("total", "b"))
    val rec = Reconciliation.bottomUp(fc, edges)
    val total = rec.filter(col("unique_id") === "total")
      .select(col("ds"), col("y_hat").as("t"))
    val sums = rec.filter(col("unique_id") =!= "total")
      .groupBy("ds").agg(sum("y_hat").as("s"))
    val err = total.join(sums, "ds")
      .agg(max(abs(col("t") - col("s")))).collect()(0).getDouble(0)
    assert(err < 1e-9)
  }

  /** `rollingFeatures` as it was written before its count became one
    * column: a `count(...).over(frame)` inside each aggregate's gate. */
  private def rollingPerAggCount(df: org.apache.spark.sql.DataFrame,
      windows: Seq[Int], aggs: Seq[String], center: Boolean, minSamples: Int) =
    windows.foldLeft(df) { (d, n) =>
      val frame =
        if (center) pc.w.rowsBetween(-((n - 1) / 2), n / 2)
        else pc.w.rowsBetween(-(n - 1), 0)
      val mp = if (minSamples > 0) minSamples else n
      val cnt = count(pc.targetCol).over(frame)
      aggs.foldLeft(d) { (d2, agg) =>
        val e = agg match {
          case "mean" => avg(pc.targetCol).over(frame)
          case "std" => stddev_samp(pc.targetCol).over(frame)
          case "min" => min(pc.targetCol).over(frame)
          case "max" => max(pc.targetCol).over(frame)
          case "sum" => sum(pc.targetCol).over(frame)
        }
        d2.withColumn(s"${pc.target}_rolling_${agg}_$n", when(cnt >= mp, e))
      }
    }

  test("rollingFeatures counts each window once and keeps its values") {
    val aggs = Seq("mean", "std", "min", "max", "sum")
    for ((windows, center, minSamples) <- Seq(
        (Seq(7), false, -1), (Seq(3, 8), false, -1), (Seq(3, 8), true, -1),
        (Seq(5), false, 2), (Seq(4, 6), true, 3))) {
      val got = Features.rollingFeatures(twoSeries, windows, aggs, center, minSamples)
      val counts = "\\bcount\\(".r
        .findAllIn(got.queryExecution.optimizedPlan.toString).size
      assert(counts == windows.size, s"$windows: $counts counts in the plan")
      val want = rollingPerAggCount(twoSeries, windows, aggs, center, minSamples)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"$windows center=$center minSamples=$minSamples")
    }
    assert(intercept[IllegalArgumentException](Features.rollingFeatures(
      twoSeries.withColumn("__rolling_count", lit(1)), Seq(3)))
      .getMessage.contains("reserved"))
  }

  test("df.pts namespace chains and matches the operator objects") {
    import graft.syntax._
    val viaNs = twoSeries.pts.lagFeatures(Seq(1)).pts.rollingFeatures(Seq(3), Seq("mean"))
    val direct = Features.rollingFeatures(
      Features.lagFeatures(twoSeries, Seq(1)), Seq(3), Seq("mean"))
    assert(viaNs.columns.toSeq == direct.columns.toSeq)
    assert(viaNs.exceptAll(direct).count() == 0)
    assert(twoSeries.pts.naive(2).count() == 4)
  }

  test("df.pts matrix-profile family sugar delegates to Advanced") {
    import graft.syntax._
    import spark.implicits._
    val panel = (for (id <- Seq("a", "b"); t <- 0 until 30) yield
      (id, t, math.sin(t / 3.0) * 5 + (if (t == 20) 30.0 else 0.0)))
      .toDF("unique_id", "ds", "y")
    val viaNs = panel.pts.matrixProfile(m = 4)
    val direct = Advanced.matrixProfile(panel, m = 4)
    assert(viaNs.columns.toSeq == direct.columns.toSeq)
    assert(viaNs.exceptAll(direct).count() == 0)
    assert(panel.pts.discords(m = 4, k = 2).count() == 4)
    assert(panel.pts.motifs(m = 4, k = 2).count() == 4)
    assert(panel.pts.patternSearch(Array(0.0, 1.0, 2.0, 1.0), k = 1).count() == 2)
    // r11 additions: blocked profile, AB-join, bocpd (incl. pruned form)
    val viaBlk = panel.pts.matrixProfileBlocked(m = 4, numBlocks = 2)
    assert(viaBlk.columns.toSeq == direct.columns.toSeq)
    assert(viaBlk.exceptAll(direct).count() == 0)
    val ref = panel.filter(col("ds") < 20)
    val viaAb = panel.pts.mpAbJoin(ref, m = 4)
    assert(viaAb.exceptAll(Advanced.mpAbJoin(panel, ref, m = 4)).count() == 0)
    assert(panel.pts.bocpd(pruneThreshold = 1e-12).exceptAll(
      Changepoint.bocpd(panel, pruneThreshold = 1e-12)).count() == 0)
  }

  test("df.corpus namespace chains and matches the operator objects") {
    import graft.syntax._
    import spark.implicits._
    val docs = Seq(
      (1L, "shared boilerplate\nthe quick brown fox", "src0"),
      (2L, "shared boilerplate\njumps over the dog", "src0"),
      (3L, "unique content here entirely", "src1"))
      .toDF("doc_id", "text", "source")
    val viaNs = docs.corpus.lineDedup()
    val direct = graft.ops.Dedup.lineDedup(docs)
    assert(viaNs.columns.toSeq == direct.columns.toSeq)
    assert(viaNs.exceptAll(direct).count() == 0)
    // chaining: quality metrics over dedup output
    val chained = viaNs.withColumnRenamed("clean_text", "text")
      .corpus.qualityMetrics()
    assert(chained.columns.contains("quality_score"))
    assert(docs.corpus.knPerplexity(buckets = 64).count() == 3)
    assert(docs.corpus.domainMixWeights("source", "doc_id").count() == 2)
    // round-9 sketch sugar
    assert(docs.corpus.cmsHeavyHitters(minFrac = 0.1).count() >= 1)
    assert(docs.corpus.hllDistinct("source").count() == 2)
  }

  test("df.pts foundation-adapter sugar delegates to Foundation") {
    import graft.syntax._
    val viaNs = twoSeries.pts.chronosEmbeddings(dim = 3)
    val direct = graft.ops.Foundation.chronosEmbed(twoSeries, dim = 3)
    assert(viaNs.columns.toSeq == direct.columns.toSeq)
    assert(viaNs.exceptAll(direct).count() == 0)
    assert(twoSeries.pts.momentEmbeddings(dim = 2, patchLen = 2)
      .columns.count(_.startsWith("emb_")) == 2)
    assert(twoSeries.pts.chronosTokenize().columns.contains("token_id"))
    assert(twoSeries.pts.foundationForecast("chronos", h = 2).count() > 0)
  }

  test("middle-out keeps middle forecasts and yields a coherent hierarchy") {
    import spark.implicits._
    val edges = Seq(("total", "m1"), ("total", "m2"),
      ("m1", "a"), ("m1", "b"), ("m2", "c"))
    val fc = ForecastBaselines.naive(panel(
      (0 until 10).flatMap(i => Seq(
        ("a", i, 10.0 + i), ("b", i, 20.0 + i), ("c", i, 5.0 + i)))), h = 2)
      .select(col("unique_id"), col("ds"), col("y_hat"))
    val all = Reconciliation.bottomUp(fc, edges)
    val rec = Reconciliation.middleOut(all, edges, Seq("m1", "m2"))
    // middle kept verbatim
    val keptErr = rec.filter(col("unique_id").isin("m1", "m2"))
      .withColumnRenamed("y_hat", "r")
      .join(all.filter(col("unique_id").isin("m1", "m2")), Seq("unique_id", "ds"))
      .agg(max(abs(col("r") - col("y_hat")))).collect()(0).getDouble(0)
    assert(keptErr < 1e-9)
    // total = m1 + m2 after reconciliation
    val totals = rec.filter(col("unique_id") === "total")
      .select(col("ds"), col("y_hat").as("t"))
    val mids = rec.filter(col("unique_id").isin("m1", "m2"))
      .groupBy("ds").agg(sum("y_hat").as("s"))
    val cohErr = totals.join(mids, "ds")
      .agg(max(abs(col("t") - col("s")))).collect()(0).getDouble(0)
    assert(cohErr < 1e-9)
  }

  test("rolling-origin CV produces disjoint ordered folds") {
    val folds = Validation.rollingOriginCv(twoSeries, nSplits = 3, horizon = 4,
      step = 4)
    val counts = folds.groupBy("fold", "split").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert((0 until 3).forall(f => counts.getOrElse((f, "test"), 0L) == 8L))
    // expanding: train grows by step×2 rows (2 series) per fold
    val trains = (0 until 3).map(f => counts((f, "train")))
    assert(trains(1) - trains(0) == 8L && trains(2) - trains(1) == 8L)
  }

  test("minTrace OLS projection leaves coherent forecasts unchanged") {
    val fc = ForecastBaselines.naive(twoSeries, h = 2)
      .select(col("unique_id"), col("ds"), col("y_hat"))
    val edges = Seq(("total", "a"), ("total", "b"))
    val coherent = Reconciliation.bottomUp(fc, edges)
    val rec = Reconciliation.minTraceOls(coherent, edges)
    val err = rec.withColumnRenamed("y_hat", "r")
      .join(coherent, Seq("unique_id", "ds"))
      .agg(max(abs(col("r") - col("y_hat")))).collect()(0).getDouble(0)
    assert(err < 1e-6, s"projection moved coherent forecasts by $err")
  }

  test("global ridge on an AR(1) panel recovers the autoregressive weight") {
    // exact relation y_t = 0.8 y_{t-1} + 1 from y_0 = 0: early transient
    // gives the design variation OLS needs; residuals are exactly zero.
    val ar = panel((0 until 200).scanLeft(("a", 0, 0.0)) { case ((_, i, prev), j) =>
      ("a", j, 0.8 * prev + 1.0)
    }.drop(1).map { case (id, i, v) => (id, i, v) })
    val model = Pipeline.fitGlobalRidge(ar, lags = 1, l2 = 1e-6)
    assert(math.abs(model.coef(0) - 0.8) < 0.05, s"coef ${model.coef.mkString(",")}")
    val fc = Pipeline.recursiveForecast(ar, model, h = 3)
    assert(fc.count() == 3)
  }

  test("streaming ETS batch fold matches the Ets kernel recursion") {
    val ys = (0 until 30).map(i => 10.0 + i).toArray
    val one = panel((0 until 30).map(i => ("s", i, ys(i))))
    val out = graft.streaming.StreamingOps.etsBatch(spark, one,
      "unique_id", "ds", "y", alpha = 0.3, beta = 0.1)
    val lastLevel = out.orderBy(col("ts").desc).limit(1)
      .select("level", "trend").collect()(0)
    // kernel holt: same recursion, forecast h=1 = level + trend
    val k = graft.kernels.Ets.holt(ys, 0.3, 0.1, 1)(0)
    assert(math.abs((lastLevel.getDouble(0) + lastLevel.getDouble(1)) - k) < 1e-9)
  }

  test("conformal intervals achieve finite-sample coverage on calibration data") {
    val cal = twoSeries.withColumn("y_hat", col("y") + (rand(42) - 0.5) * 4.0)
    val out = Conformal.interval(cal, cal, "y", "y_hat", alpha = 0.2)
    val cov = out.agg(avg(
      (col("y") >= col("y_hat_lower") && col("y") <= col("y_hat_upper")).cast("double")))
      .collect()(0).getDouble(0)
    assert(cov >= 0.8, s"coverage $cov below nominal 0.8")
  }

  test("multimodal fake decode is deterministic and shaped") {
    val f1 = Multimodal.fakeDecode("hello world".getBytes, 8)
    val f2 = Multimodal.fakeDecode("hello world".getBytes, 8)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.length == 8)
    assert(Multimodal.fakeDecode(Array.emptyByteArray, 8).forall(_ == 0.0))
  }
}
