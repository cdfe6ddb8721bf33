package graft.ops

import graft.core.PanelCols
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical seasonal decomposition + strength features (reference
  * polars_ts/decomposition/seasonal_decomposition.py:8-99,
  * seasonal_decompose_features.py:16-172). 100% native expressions:
  * centered window mean for trend, phase-group join for seasonal, window
  * variances for strengths.
  */
object Decomposition {

  /** Adds `trend`, `seasonal`, `resid` (+ optional `is_anomaly`).
    * Additive or multiplicative detrending. */
  def seasonal(df: DataFrame, freq: Int, model: String = "additive",
      anomalyK: Double = 0.0)(implicit pc: PanelCols): DataFrame = {
    require(freq >= 2, "freq must be >= 2")
    val y = pc.targetCol
    val half = (freq - 1) / 2
    val frame = pc.w.rowsBetween(-half, freq / 2)
    val cnt = count(y).over(frame)
    val trend = when(cnt >= freq, avg(y).over(frame))
    val withTrend = df
      .withColumn("__phase", pmod(row_number().over(pc.w) - 1, lit(freq)))
      .withColumn("trend", trend)
      .withColumn("__detrended",
        if (model == "additive") y - col("trend") else y / col("trend"))
    // seasonal = per-(id, phase) mean of detrended, re-centered per id —
    // as WINDOW aggregates over the SAME hash(id) exchange the trend
    // window established (r12, guide §2.4 "two operations keyed the same
    // way share one exchange"): HashPartitioning(id) satisfies the
    // (id, phase) clustering, so the phase-mean window adds a sort but
    // NO exchange, where the former groupBy(id, phase) + join-back shape
    // cost a second full scan of the input, a second exchange, and a
    // broadcast join (2 scans + 2 exchanges → 1 scan + 1 exchange; at
    // 100 TB that halves both I/O and shuffle for every decomposition
    // pass). Fold orders are pinned by the ordered frames, so results
    // are independent of the physical input layout.
    val wPhase = Window.partitionBy(pc.idCol, col("__phase"))
      .orderBy(pc.orderCols: _*)
    val wPhaseAll = wPhase.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wId = Window.partitionBy(pc.idCol)
    // one representative row per (id, phase): re-centering must weight
    // each PHASE once, not each row (phases with more rows would
    // otherwise overweight the per-id seasonal mean)
    val staged = withTrend
      .withColumn("__pmean", avg(col("__detrended")).over(wPhaseAll))
      .withColumn("__ph1", row_number().over(wPhase) === 1)
    val out = staged
      .withColumn("__smean",
        sum(when(col("__ph1"), col("__pmean"))).over(wId) /
          count(when(col("__ph1") && col("__pmean").isNotNull, lit(1)))
            .over(wId))
      .withColumn("seasonal",
        if (model == "additive") col("__pmean") - col("__smean")
        else col("__pmean") / col("__smean"))
      .withColumn("resid",
        if (model == "additive") col("__detrended") - col("seasonal")
        else col("__detrended") / col("seasonal"))
      .drop("__phase", "__detrended", "__pmean", "__ph1", "__smean")
    if (anomalyK > 0.0)
      out.withColumn("is_anomaly",
        abs(col("resid")) > lit(anomalyK) * stddev_samp(col("resid")).over(pc.wAll))
    else out
  }

  /** Fourier decomposition (reference
    * decomposition/fourier_decomposition.py:13-149): trend = centered MA;
    * seasonal = PER-SERIES ridge fit of the detrended signal on sin/cos
    * harmonics. Fully distributed: the per-series normal equations are a
    * groupBy aggregation of XᵀX / Xᵀy sums; the small (2k+1)² solve runs
    * in a UDF per series — no driver loop, no collect. */
  def fourier(df: DataFrame, period: Double, k: Int, l2: Double = 1e-3)(
      implicit pc: PanelCols): DataFrame = {
    require(period > 0 && k > 0)
    val y = pc.targetCol
    val half = (period.toInt - 1) / 2
    val frame = pc.w.rowsBetween(-half, period.toInt / 2)
    val cnt = count(y).over(frame)
    val d = 2 * k + 1 // sin/cos pairs + intercept
    val withT = df
      .withColumn("__t", (row_number().over(pc.w) - 1).cast("double"))
      .withColumn("trend", when(cnt >= period.toInt, avg(y).over(frame)))
      .withColumn("__detr", y - col("trend"))
    val feats: Seq[org.apache.spark.sql.Column] =
      (1 to k).flatMap { kk =>
        val ang = lit(2.0 * math.Pi * kk) * col("__t") / lit(period)
        Seq(sin(ang), cos(ang))
      } :+ lit(1.0)
    val withX = feats.zipWithIndex.foldLeft(withT) { case (acc, (f, i)) =>
      acc.withColumn(s"__x$i", f)
    }
    // per-series Gram sums over non-null detrended rows
    val gramCols =
      (for (i <- 0 until d; j <- i until d) yield
        sum(when(col("__detr").isNotNull, col(s"__x$i") * col(s"__x$j")))
          .as(s"__g_${i}_$j")) ++
      (0 until d).map(i =>
        sum(when(col("__detr").isNotNull, col(s"__x$i") * col("__detr")))
          .as(s"__b_$i"))
    val gram = withX.groupBy(pc.idCol).agg(gramCols.head, gramCols.tail: _*)
    val solveUdf = udf((g: Seq[Double], b: Seq[Double]) => {
      val a = Array.ofDim[Double](d, d)
      var idx = 0
      for (i <- 0 until d; j <- i until d) {
        a(i)(j) = g(idx); a(j)(i) = g(idx); idx += 1
      }
      for (i <- 0 until d - 1) a(i)(i) += l2 // intercept unpenalized
      graft.kernels.ArimaLite.solve(a, b.toArray)
    })
    val coefs = gram.select(pc.idCol,
      solveUdf(
        array((for (i <- 0 until d; j <- i until d) yield col(s"__g_${i}_$j")): _*),
        array((0 until d).map(i => col(s"__b_$i")): _*)).as("__coef"))
    val fitted = (0 until d).map(i =>
      element_at(col("__coef"), i + 1) * col(s"__x$i")).reduce(_ + _)
    withX.join(coefs, Seq(pc.id))
      .withColumn("seasonal", fitted)
      .withColumn("resid", col("__detr") - col("seasonal"))
      .drop("__coef" +: "__t" +: "__detr" +: (0 until d).map(i => s"__x$i"): _*)
  }

  /** MSTL-style multi-seasonal additive decomposition (reference
    * seasonal_decompose_features.py:121-170 'mstl' mode, which delegates
    * to statsforecast MSTL): iterated back-fitting — per round and period
    * (ascending), the period's seasonal component is re-estimated as the
    * re-centered phase mean of the series with all OTHER current seasonal
    * components and the period's own centered-MA trend removed (MSTL,
    * Bandara-Hyndman-Bergmeir 2021, with the loess inner smoother replaced
    * by the classical extractor [[seasonal]] already uses — loess is
    * descoped, SURVEY §2.6). Adds `trend`, `seasonal_{p}` per period,
    * `resid`. Each pass is one window + one phase-mean shuffle join; rows
    * never leave their series partitioning, so the plan scales like the
    * single-period decomposition × (iterations · periods). */
  def mstl(df: DataFrame, periods: Seq[Int], iterations: Int = 2)(
      implicit pc: PanelCols): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      "mstl needs at least one period >= 2")
    val ps = periods.distinct.sorted
    val y = pc.targetCol.cast("double")
    def phaseCol(p: Int) = s"__phase_$p"
    var cur = ps.foldLeft(df.withColumn("__rn", row_number().over(pc.w) - 1)) {
      (acc, p) =>
        acc.withColumn(phaseCol(p), pmod(col("__rn"), lit(p)))
          .withColumn(s"seasonal_$p", lit(0.0))
    }
    for (_ <- 1 to iterations; p <- ps) {
      val deseasOther = ps.filter(_ != p).map(q => col(s"seasonal_$q"))
        .foldLeft(y)(_ - _)
      val half = (p - 1) / 2
      val frame = pc.w.rowsBetween(-half, p / 2)
      val trendP = when(count(y).over(frame) >= p, avg(deseasOther).over(frame))
      val tmp = cur.withColumn("__det", deseasOther - trendP)
      val pm = tmp.groupBy(pc.idCol, col(phaseCol(p)))
        .agg(avg(col("__det")).as("__pmean"))
        .withColumn("__snew",
          col("__pmean") - avg(col("__pmean")).over(pc.wAll))
        .select(pc.idCol, col(phaseCol(p)), col("__snew"))
      cur = tmp.join(pm, Seq(pc.id, phaseCol(p)))
        .withColumn(s"seasonal_$p", col("__snew"))
        .drop("__det", "__snew")
    }
    val allSeas = ps.map(q => col(s"seasonal_$q")).reduce(_ + _)
    val pMax = ps.max
    val frame = pc.w.rowsBetween(-((pMax - 1) / 2), pMax / 2)
    cur.withColumn("trend",
        when(count(y).over(frame) >= pMax, avg(y - allSeas).over(frame)))
      .withColumn("resid", y - col("trend") - allSeas)
      .drop("__rn" +: ps.map(phaseCol): _*)
  }

  /** Pure per-series MSTL kernel — identical math to the row-level
    * [[mstl]] (ascending periods, iterated back-fitting, centered-MA
    * inner trend over [t−(p−1)/2, t+p/2] full windows only, re-centered
    * phase means). Returns per-row [trend, seasonal_p…, resid] with NaN
    * where the row-level formulation yields null (truncated windows /
    * empty phases). */
  private[ops] def mstlKernelRows(ys: Array[Double], ps: Seq[Int],
      iterations: Int): Array[Array[Double]] = {
    val n = ys.length
    val nP = ps.length
    val seas = Array.fill(nP)(new Array[Double](n))
    for (_ <- 1 to iterations; pi <- 0 until nP) {
      val p = ps(pi)
      val half = (p - 1) / 2
      val des = Array.tabulate(n) { t =>
        var v = ys(t)
        var q = 0
        while (q < nP) { if (q != pi) v -= seas(q)(t); q += 1 }
        v
      }
      val det = new Array[Double](n)
      val detOk = new Array[Boolean](n)
      var t = 0
      while (t < n) {
        val lo = t - half; val hi = t + p / 2
        if (lo >= 0 && hi <= n - 1) {
          var s = 0.0; var i = lo
          while (i <= hi) { s += des(i); i += 1 }
          det(t) = des(t) - s / p
          detOk(t) = true
        }
        t += 1
      }
      val pm = new Array[Double](p)
      val pcnt = new Array[Int](p)
      t = 0
      while (t < n) {
        if (detOk(t)) { pm(t % p) += det(t); pcnt(t % p) += 1 }
        t += 1
      }
      var k = 0
      var defSum = 0.0; var defCnt = 0
      while (k < p) {
        if (pcnt(k) > 0) { pm(k) /= pcnt(k); defSum += pm(k); defCnt += 1 }
        else pm(k) = Double.NaN
        k += 1
      }
      val center = if (defCnt > 0) defSum / defCnt else Double.NaN
      t = 0
      while (t < n) { seas(pi)(t) = pm(t % p) - center; t += 1 }
    }
    val pMax = ps.max
    val halfMax = (pMax - 1) / 2
    Array.tabulate(n) { t =>
      var allSeas = 0.0
      var q = 0
      while (q < nP) { allSeas += seas(q)(t); q += 1 }
      val lo = t - halfMax; val hi = t + pMax / 2
      val trend =
        if (lo >= 0 && hi <= n - 1) {
          var s = 0.0; var i = lo
          while (i <= hi) {
            // y − (Σ seasonal): the row-level twin's association order
            var ss = 0.0
            var qq = 0
            while (qq < nP) { ss += seas(qq)(i); qq += 1 }
            s += ys(i) - ss
            i += 1
          }
          s / pMax
        } else Double.NaN
      (trend +: Array.tabulate(nP)(q => seas(q)(t))) :+ (ys(t) - trend - allSeas)
    }
  }

  /** Grouped-array MSTL — the PRODUCTION path (VERDICT r6 ask #7): ONE
    * collect_list shuffle and a per-series kernel, where the row-level
    * window formulation [[mstl]] costs (iterations · periods) window +
    * phase-mean-join passes (16 shuffles / 15 broadcasts in the initial
    * plan at 2 periods × 2 iterations on sf0.001 — structurally inherent
    * to making it SQL-oracle-replayable). [[mstl]] stays as the oracle twin;
    * MstlGroupedSpec asserts the two paths agree to 1e-9. Output
    * `[id, ts, trend, seasonal_{p}…, resid]`. */
  def mstlGrouped(df: DataFrame, periods: Seq[Int], iterations: Int = 2)(
      implicit pc: PanelCols): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      "mstl needs at least one period >= 2")
    val ps = periods.distinct.sorted
    val u = udf((ys: Seq[Double]) =>
      mstlKernelRows(ys.toArray, ps, iterations).map(_.toSeq))
    val names = "trend" +: ps.map(p => s"seasonal_$p") :+ "resid"
    val base = graft.core.Panel.grouped(df)
      .select(pc.idCol, col("ts").as("__ts"), u(col("ys")).as("__r"))
      .select(pc.idCol, posexplode(col("__r")).as(Seq("__i", "__row")), col("__ts"))
      .select(pc.idCol +: expr("__ts[__i]").as(pc.time) +:
        names.zipWithIndex.map { case (nm, i) =>
          val c = col("__row")(i)
          when(!isnan(c), c).as(nm) // NaN ⇒ the row-level twin's null
        }: _*)
    base
  }

  /** Per-series MSTL strength features `[id, trend_strength,
    * seasonal_{p}_strength…, resid_var]` (seasonal_decompose_features.py
    * mstl-mode output shape; resid_var follows the reference's
    * std(resid)/mean(y) there, unlike the simple mode's var(resid)). */
  def mstlStrengthFeatures(df: DataFrame, periods: Seq[Int],
      iterations: Int = 2)(implicit pc: PanelCols): DataFrame = {
    val dec = mstl(df, periods, iterations)
    val ps = periods.distinct.sorted
    val vR = var_samp(col("resid"))
    val aggs =
      greatest(lit(0.0), lit(1.0) - vR / var_samp(col("trend") + col("resid")))
        .as("trend_strength") +:
      ps.map(p =>
        greatest(lit(0.0), lit(1.0) - vR / var_samp(col(s"seasonal_$p") + col("resid")))
          .as(s"seasonal_${p}_strength")) :+
      (stddev_samp(col("resid")) / avg(pc.targetCol)).as("resid_var")
    dec.filter(col("trend").isNotNull && col("resid").isNotNull)
      .groupBy(pc.idCol)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-series `trend_strength`, `seasonal_strength`, `resid_var`
    * (seasonal_decompose_features.py 'simple' mode):
    * strength = max(0, 1 − var(resid)/var(component + resid)). */
  def strengthFeatures(df: DataFrame, freq: Int)(implicit pc: PanelCols): DataFrame = {
    val dec = seasonal(df, freq)
    dec.filter(col("trend").isNotNull && col("resid").isNotNull)
      .groupBy(pc.idCol)
      .agg(
        // trend strength: resid variance vs deseasonalized (trend + resid)
        greatest(lit(0.0),
          lit(1.0) - var_samp(col("resid")) / var_samp(col("trend") + col("resid")))
          .as("trend_strength"),
        // seasonal strength: resid variance vs detrended (seasonal + resid)
        greatest(lit(0.0),
          lit(1.0) - var_samp(col("resid")) / var_samp(col("seasonal") + col("resid")))
          .as("seasonal_strength"),
        var_samp(col("resid")).as("resid_var"))
  }
}
