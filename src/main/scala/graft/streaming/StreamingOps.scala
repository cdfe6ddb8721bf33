package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

/** Structured-Streaming online learners (reference polars_ts/streaming/):
  * the reference's `partial_fit` state dicts become per-key
  * `flatMapGroupsWithState` state; watermark/event-time semantics are new
  * capability on top (SURVEY §2.13 notes the reference has none).
  */
object StreamingOps {

  /** One observation of a keyed series. Every keyed fold below sorts a
    * key's rows by `(ts, tie)` before folding them — all of a key's rows
    * on a batch Dataset, the rows of one trigger on a stream (across
    * triggers a stream folds in arrival order). `tie` breaks equal-ts
    * ordering (the repo-wide ORDER BY ts, event_id convention — ADVICE
    * r6: ts alone makes the fold order, and hence gate parity, depend on
    * group-iterator luck whenever a series has a ts collision). */
  case class Obs(uniqueId: String, ts: Timestamp, y: Double, tie: Long = 0L)

  /** Event time to the µs (`getTime` alone stops at the millisecond),
    * then the tie-break. */
  private val obsOrder: Ordering[Obs] =
    Ordering.by(o => (o.ts.getTime, o.ts.getNanos, o.tie))

  /** The keyed fold behind every stateful op: group by `key`, sort each
    * key's rows by `order`, and fold them through `step` from the state
    * the key carries (`zero` of its first row when it has none), emitting
    * what each step returns. On a streaming Dataset the state persists
    * across triggers; on a batch Dataset Spark calls the function once per
    * key with empty state — the same one hash shuffle and sort as
    * `groupByKey.flatMapGroups`, so the batch entry points run this very
    * fold. */
  private def keyedFold[I, S <: Product : TypeTag, O <: Product : TypeTag](
      input: Dataset[I], key: I => String, order: Ordering[I], zero: I => S)(
      step: (String, S, I) => (S, Option[O])): Dataset[O] =
    input.groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: String, rows: Iterator[I], state: GroupState[S]) => {
          var s = state.getOption
          val out = rows.toSeq.sorted(order).flatMap { o =>
            val (next, emit) = step(id, s.getOrElse(zero(o)), o)
            s = Some(next)
            emit
          }
          s.foreach(state.update)
          out.iterator
        })(Encoders.product[S], Encoders.product[O])

  /** [[keyedFold]] over [[Obs]]: keyed by `uniqueId`, in `(ts, tie)` order. */
  private def obsFold[S <: Product : TypeTag, O <: Product : TypeTag](
      input: Dataset[Obs], zero: Obs => S)(
      step: (String, S, Obs) => (S, Option[O])): Dataset[O] =
    keyedFold(input, (o: Obs) => o.uniqueId, obsOrder, zero)(step)

  /** `df`'s id, time, value and optional tie-break columns as [[Obs]] —
    * the input of every batch entry point. */
  private def observations(df: DataFrame, idCol: String, tsCol: String,
      yCol: String, tieCol: Option[String]): Dataset[Obs] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("string").as("uniqueId"),
      col(tsCol).cast("timestamp").as("ts"), col(yCol).cast("double").as("y"),
      tieCol.map(c => col(c).cast("long")).getOrElse(lit(0L)).as("tie"))
      .as[Obs]
  }

  case class EtsState(level: Double, trend: Double, n: Long)
  case class EtsOutput(uniqueId: String, ts: Timestamp, y: Double,
      level: Double, trend: Double, forecastNext: Double)

  /** Streaming Holt (SES when beta=0): folds each new observation through
    * the update equations, emitting the one-step-ahead forecast
    * (reference streaming/ets.py:13-280 `partial_fit`/`predict`). */
  def streamingEts(input: Dataset[Obs], alpha: Double = 0.3, beta: Double = 0.1)
      : Dataset[EtsOutput] =
    obsFold(input, _ => EtsState(0.0, 0.0, 0L)) { (id, s, o: Obs) =>
      val next =
        if (s.n == 0L) EtsState(o.y, 0.0, 1L)
        else if (s.n == 1L) EtsState(o.y, o.y - s.level, 2L) // two-point init, matches Ets.holt
        else {
          val level = alpha * o.y + (1.0 - alpha) * (s.level + s.trend)
          val trend = beta * (level - s.level) + (1.0 - beta) * s.trend
          EtsState(level, trend, s.n + 1)
        }
      (next, Some(EtsOutput(id, o.ts, o.y, next.level, next.trend,
        next.level + next.trend)))
    }

  case class KalmanState(x: Double, p: Double, n: Long)
  case class KalmanOutput(uniqueId: String, ts: Timestamp, y: Double,
      filtered: Double, variance: Double)

  /** Streaming local-level Kalman filter: predict/update per observation
    * (reference streaming/kalman.py:8-158). q = process var, r = obs var. */
  def streamingKalman(input: Dataset[Obs], q: Double = 1e-3, r: Double = 1.0)
      : Dataset[KalmanOutput] =
    obsFold(input, _ => KalmanState(0.0, 1e6, 0L)) { (id, s, o: Obs) =>
      val pPred = s.p + q
      val k = pPred / (pPred + r)
      val x = s.x + k * (o.y - s.x)
      val p = (1.0 - k) * pPred
      (KalmanState(x, p, s.n + 1), Some(KalmanOutput(id, o.ts, o.y, x, p)))
    }

  case class EnkfState(ens: Array[Double], t: Long)
  case class EnkfOutput(uniqueId: String, ts: Timestamp, y: Double,
    filtered: Double, filteredVar: Double)

  /** Streaming ensemble Kalman filter (local level): per-key ensemble
    * state advanced one [[graft.kernels.Bayesian.enkfStepDet]] per
    * arrival. Because every draw is a counter-based DetRng function of
    * (seed, stream, step, member), the streamed outputs are BIT-IDENTICAL
    * to the batch kernel regardless of how the series is split across
    * micro-batches — the stream≡batch contract StreamingEnkfSpec pins.
    * State is one `nEnsemble`-double array per key (bounded). */
  def streamingEnkf(input: Dataset[Obs], q: Double = 1e-3, r: Double = 1.0,
      nEnsemble: Int = 30, seed: Long = 42L): Dataset[EnkfOutput] = {
    val sc = graft.kernels.DetRng.seedConst(seed)
    obsFold(input, o => EnkfState(
        graft.kernels.Bayesian.enkfInitEnsemble(o.y, nEnsemble, sc), 0L)) {
      (id, s, o: Obs) =>
        val (ens, m, v) =
          graft.kernels.Bayesian.enkfStepDet(s.ens, o.y, s.t, q, r, sc)
        (EnkfState(ens, s.t + 1), Some(EnkfOutput(id, o.ts, o.y, m, v)))
    }
  }

  case class PfState(particles: Array[Double], t: Long)
  case class PfOutput(uniqueId: String, ts: Timestamp, y: Double,
    filtered: Double, filteredVar: Double, ess: Double)

  /** Streaming bootstrap particle filter (local level): per-key particle
    * cloud advanced one [[graft.kernels.Bayesian.pfStepDet]] per arrival
    * — counter-based draws make the streamed outputs bit-identical to
    * the batch kernel under any micro-batch split (StreamingPfSpec).
    * State is `nParticles` doubles per key (bounded). */
  def streamingParticleFilter(input: Dataset[Obs], nParticles: Int = 200,
      sigmaLevel: Double = 1.0, sigmaObs: Double = 1.0,
      resampleThreshold: Double = 0.5, seed: Long = 42L): Dataset[PfOutput] = {
    val sc = graft.kernels.DetRng.seedConst(seed)
    obsFold(input, o => PfState(
        graft.kernels.Bayesian.pfInitParticles(o.y, nParticles, sc), 0L)) {
      (id, s, o: Obs) =>
        val (parts, m, v, ess) = graft.kernels.Bayesian.pfStepDet(
          s.particles, o.y, s.t, sigmaLevel, sigmaObs, resampleThreshold, sc)
        (PfState(parts, s.t + 1), Some(PfOutput(id, o.ts, o.y, m, v, ess)))
    }
  }

  case class AnomalyOutput(uniqueId: String, ts: Timestamp, y: Double,
    pValue: Double, isAnomaly: Boolean)

  /** Streaming Bayesian anomaly scoring (reference bayesian/anomaly.py's
    * online NIG model as keyed state): each arrival is scored against the
    * posterior predictive, then absorbed — one
    * [[graft.kernels.Bayesian.nigStep]] per row, the exact batch
    * recursion, so stream ≡ batch holds bit-for-bit (deterministic, no
    * draws). State is 4 doubles + a counter per key. */
  def streamingNigAnomaly(input: Dataset[Obs], threshold: Double = 0.01,
      warmup: Int = 10): Dataset[AnomalyOutput] =
    obsFold(input, o => graft.kernels.Bayesian.nigInit(o.y)) { (id, s, o: Obs) =>
      val (next, p) = graft.kernels.Bayesian.nigStep(s, o.y, warmup)
      (next, Some(AnomalyOutput(id, o.ts, o.y, p, p < threshold)))
    }

  case class WindowState(values: Array[Double], lastTs: Long)
  case class WindowOutput(uniqueId: String, ts: Timestamp, window: Array[Double],
      windowLen: Int)

  /** `s`'s tail buffer with `o` appended, cut to its last `keep` values. */
  private def pushTail(s: WindowState, o: Obs, keep: Int): WindowState = {
    val appended = s.values :+ o.y
    WindowState(
      if (appended.length > keep) appended.takeRight(keep) else appended,
      o.ts.getTime)
  }

  private val emptyTail: Obs => WindowState =
    _ => WindowState(Array.empty, Long.MinValue)

  /** Sliding-window state manager (reference streaming/window.py:10-56):
    * per-key bounded tail buffer maintained in `flatMapGroupsWithState`;
    * each arriving observation emits the refreshed window. The reference's
    * in-process dict-of-deques becomes fault-tolerant keyed state. */
  def slidingWindow(input: Dataset[Obs], windowSize: Int): Dataset[WindowOutput] = {
    require(windowSize > 0, "windowSize must be positive")
    obsFold(input, emptyTail) { (id, s, o: Obs) =>
      val next = pushTail(s, o, windowSize)
      (next, Some(WindowOutput(id, o.ts, next.values, next.values.length)))
    }
  }

  case class NeuralFcOutput(uniqueId: String, ts: Timestamp,
      forecast: Array[Double])

  /** Streaming N-BEATS inference: the offline-trained global model is
    * shipped into the closure (broadcast by Spark's task serialization)
    * and each key keeps only the last `fit.inputSize` values — O(input)
    * state per key at ANY corpus size, because `NBeats.forward` only
    * ever reads that tail (`NBeats.context`). Every arrival emits the
    * refreshed h-step forecast. Inference-only: the fit happens offline
    * on pooled windows (the global-model serving split). Stream output
    * is provably equal to the batch forward on each prefix — the tail
    * buffer loses nothing — which StreamingNeuralSpec pins under
    * micro-batch splits. */
  def streamingNeuralForecast(input: Dataset[Obs], fit: graft.kernels.NBeats.Fit)
      : Dataset[NeuralFcOutput] =
    streamingModelForecast(input, fit.inputSize,
      ys => graft.kernels.NBeats.forward(fit, ys))

  /** PatchTST twin of [[streamingNeuralForecast]] — same bounded-tail
    * state, transformer forward. */
  def streamingPatchTstForecast(input: Dataset[Obs],
      fit: graft.kernels.Transformer.PatchFit): Dataset[NeuralFcOutput] =
    streamingModelForecast(input, fit.inputSize,
      ys => graft.kernels.Transformer.patchForward(fit, ys))

  /** Generic bounded-tail streaming inference: keep the last `inputSize`
    * values per key (all any context-window forward ever reads), emit
    * `forward(tail)` per arrival. `forward` must be serializable
    * (broadcast weights captured in the closure). */
  def streamingModelForecast(input: Dataset[Obs], inputSize: Int,
      forward: Array[Double] => Array[Double]): Dataset[NeuralFcOutput] =
    obsFold(input, emptyTail) { (id, s, o: Obs) =>
      val next = pushTail(s, o, inputSize)
      (next, Some(NeuralFcOutput(id, o.ts, forward(next.values))))
    }

  case class FeatureRow(uniqueId: String, ts: Timestamp, y: Double,
      features: Array[Double])

  /** Streaming global forecaster, fit side (reference
    * streaming/global_model.py:16-200): per-key window state emits a lag
    * feature row per arrival; a downstream streaming aggregation over
    * `gramColumns` maintains the pooled ridge normal equations — the
    * incremental `partial_fit` becomes an incrementally-maintained Gram,
    * which is EXACT (not SGD-approximate) and merges across partitions.
    * Per-key state is the last `max(lags)` values, all a feature row
    * reads. Solve with [[solveRidgeFromGram]] whenever a forecast is
    * needed. */
  def streamingLagFeatures(input: Dataset[Obs], lags: Seq[Int])
      : Dataset[FeatureRow] = {
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    val maxLag = lags.max
    obsFold(input, emptyTail) { (id, s, o: Obs) =>
      val buf = s.values
      val row =
        if (buf.length >= maxLag)
          Some(FeatureRow(id, o.ts, o.y,
            lags.map(k => buf(buf.length - k)).toArray :+ 1.0))
        else None
      (pushTail(s, o, maxLag), row)
    }
  }

  /** Gram-sum aggregate columns for [[streamingLagFeatures]] output: run
    * under a streaming aggregation (update/complete mode) to maintain the
    * ridge normal equations incrementally. */
  def gramColumns(p: Int): Seq[org.apache.spark.sql.Column] =
    (for (i <- 0 until p; j <- i until p) yield
      sum(element_at(col("features"), i + 1) * element_at(col("features"), j + 1))
        .as(s"g_${i}_$j")) ++
    (0 until p).map(i =>
      sum(element_at(col("features"), i + 1) * col("y")).as(s"b_$i")) :+
    count(lit(1)).as("n")

  /** Solve the ridge coefficients from one collected Gram row. */
  def solveRidgeFromGram(row: org.apache.spark.sql.Row, p: Int,
      l2: Double = 1e-3): Array[Double] = {
    val g = Array.fill(p, p)(0.0)
    val b = new Array[Double](p)
    var idx = 0
    for (i <- 0 until p; j <- i until p) {
      g(i)(j) = row.getDouble(idx); g(j)(i) = g(i)(j); idx += 1
    }
    for (i <- 0 until p) { b(i) = row.getDouble(idx); idx += 1 }
    for (i <- 0 until p - 1) g(i)(i) += l2
    graft.kernels.ArimaLite.solve(g, b)
  }

  // Batch entry points (tests and the query contract, where no streaming
  // source exists): each runs its streaming op over `df` as one batch.
  // `spark` is unused; it stays for the callers' signatures.

  /** The streaming global fit over one batch: [[streamingLagFeatures]],
    * the [[gramColumns]] aggregate, [[solveRidgeFromGram]]. */
  def globalRidgeBatch(spark: SparkSession, df: DataFrame, idCol: String,
      tsCol: String, yCol: String, lags: Seq[Int],
      tieCol: Option[String] = None): Array[Double] = {
    val p = lags.length + 1
    val cols = gramColumns(p)
    val gramRow = streamingLagFeatures(
        observations(df, idCol, tsCol, yCol, tieCol), lags)
      .agg(cols.head, cols.tail: _*).head()
    // no series long enough for a single feature row → the sums are all
    // null; fail with the actual problem, not a getDouble NPE
    require(!gramRow.isNullAt(0),
      s"globalRidgeBatch: no training rows — every series is shorter " +
        s"than max(lags) = ${lags.max}")
    solveRidgeFromGram(gramRow, p)
  }

  /** [[streamingEts]] over one batch (the reference's incremental-batch
    * mode). */
  def etsBatch(spark: SparkSession, df: DataFrame, idCol: String, tsCol: String,
      yCol: String, alpha: Double = 0.3, beta: Double = 0.1,
      tieCol: Option[String] = None): DataFrame =
    streamingEts(observations(df, idCol, tsCol, yCol, tieCol), alpha, beta).toDF()

  /** [[streamingKalman]] over one batch. */
  def kalmanBatch(spark: SparkSession, df: DataFrame, idCol: String,
      tsCol: String, yCol: String, q: Double = 1e-3, r: Double = 1.0,
      tieCol: Option[String] = None): DataFrame =
    streamingKalman(observations(df, idCol, tsCol, yCol, tieCol), q, r).toDF()

  /** [[slidingWindow]] over one batch. */
  def windowBatch(spark: SparkSession, df: DataFrame, idCol: String,
      tsCol: String, yCol: String, windowSize: Int,
      tieCol: Option[String] = None): DataFrame =
    slidingWindow(observations(df, idCol, tsCol, yCol, tieCol), windowSize).toDF()

  /** [[streamingEnkf]] over one batch (the DuckDB oracle of its gate query
    * is the ts_enkf replay at that query's subset). */
  def enkfBatch(spark: SparkSession, df: DataFrame, idCol: String,
      tsCol: String, yCol: String, q: Double = 1e-3, r: Double = 1.0,
      nEnsemble: Int = 30, seed: Long = 42L,
      tieCol: Option[String] = None): DataFrame =
    streamingEnkf(observations(df, idCol, tsCol, yCol, tieCol),
      q, r, nEnsemble, seed).toDF()

  /** [[streamingParticleFilter]] over one batch (the DuckDB oracle of its
    * gate query is the ts_particle replay at that query's subset). */
  def pfBatch(spark: SparkSession, df: DataFrame, idCol: String,
      tsCol: String, yCol: String, nParticles: Int = 200,
      sigmaLevel: Double = 1.0, sigmaObs: Double = 1.0,
      resampleThreshold: Double = 0.5, seed: Long = 42L,
      tieCol: Option[String] = None): DataFrame =
    streamingParticleFilter(observations(df, idCol, tsCol, yCol, tieCol),
      nParticles, sigmaLevel, sigmaObs, resampleThreshold, seed).toDF()

  case class Doc(docId: Long, ts: Timestamp, text: String)

  /** Streaming exact dedup for a document firehose: fingerprint each doc
    * (same FNV-64 normalization as the batch `Dedup.exact`) and emit only
    * first-seen fingerprints via `dropDuplicatesWithinWatermark` — the
    * dedup state is expired past the watermark horizon, so state size is
    * bounded by the stream rate × delay instead of growing with corpus
    * size (a plain `dropDuplicates` would OOM a 100 TB/day feed).
    * Batch twin for the correctness gate: [[graft.ops.Dedup.canonical]]
    * (`doc_dedup_canonical` — first-seen ≡ min-id under a total order). */
  def streamingDedup(input: Dataset[Doc],
      watermarkDelay: String = "1 hour"): DataFrame =
    input.toDF()
      .withColumn("fingerprint", graft.ops.TextOps.fingerprint(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming gap-sessionization: Spark's native `session_window`
    * grouped aggregation — the streaming twin of
    * [[graft.ops.TemporalJoins.sessionize]] summaries. The watermark
    * bounds state (a session closes once the watermark passes its end),
    * so state is O(open sessions), not O(events).
    *
    * Boundary convention: `session_window` merges events strictly closer
    * than `gap` (the window is half-open `[start, last + gap)`), while
    * the batch operator keeps an exactly-`gap` successor in the same
    * session. Equal-to-gap inter-arrival times are measure-zero on real
    * µs data; the stream≡batch spec avoids the boundary and asserts
    * `session_end(stream) = session_end(batch) + gap` on everything else.
    *
    * Emits one row per CLOSED session (append mode): key, start, end,
    * event count, value sum. */
  def streamingSessionize(input: Dataset[Obs], gap: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    input.toDF()
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("uniqueId"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum("y").as("sum_value"))
      .select(col("uniqueId"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming dynamic time grouping — the stream twin of
    * [[graft.ops.Resample.groupByDynamic]]: the SAME native `window()`
    * operator under a watermark, so sliding/tumbling window aggregates
    * emit once closed (append mode) with state bounded by
    * period + lateness. Semantics are identical to batch by
    * construction (same operator, same alignment). */
  def streamingGroupByDynamic(input: Dataset[Obs], every: String,
      period: String, watermarkDelay: String = "1 hour"): DataFrame =
    input.toDF()
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("uniqueId"), window(col("ts"), period, every).as("__w"))
      .agg(avg("y").as("y_mean"), count(lit(1)).as("n_obs"))
      .select(col("uniqueId"), col("__w.start").as("ts"),
        col("y_mean"), col("n_obs"))

  /** Streaming interval join — the stream twin of
    * [[graft.ops.TemporalJoins.rangeJoin]] for two live streams: Spark's
    * native stream-stream inner join with an equality key plus an
    * event-time range condition. Both sides carry watermarks, so each
    * side's buffered state is bounded by `watermarkDelay` + the window
    * width (Spark evicts rows that can no longer match). `left` rows
    * match `right` rows with `r.ts ∈ [l.ts, l.ts + windowUs)` for the
    * same key — "events within the window opened by each left event". */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
      key: String, windowUs: Long,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay).alias("l")
    val r = right.withWatermark("ts", watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        // MICROSECOND interval: dividing down to whole seconds truncated
        // sub-second windows to zero (always-false join) and 1.5s to 1s
        col("r.ts") < col("l.ts") + expr(s"INTERVAL $windowUs MICROSECOND"))
  }

  /** Tagged observation for [[streamingAsofEnrich]]: `isRight` marks the
    * enrichment side (the side whose latest value is carried). */
  case class TaggedObs(uniqueId: String, ts: Timestamp, isRight: Boolean,
      y: Double, tie: Long = 0L)
  case class AsofOut(uniqueId: String, ts: Timestamp, y: Double,
      asofTs: Option[Timestamp], asofY: Option[Double])
  /** Per-key state of [[streamingAsofEnrich]]: the latest right payload. */
  case class AsofState(asofTs: Option[Timestamp], asofY: Option[Double])

  /** Streaming backward as-of enrichment — the online twin of
    * [[graft.ops.TemporalJoins.asofJoin]] (direction = backward): each
    * left row emits with the most recent right-side (ts, value)
    * at-or-before it for the same key. State is O(1) per key (just the
    * latest right payload), vs a stream-stream interval join's
    * O(window × rate) buffered rows.
    *
    * Ordering contract: rows within a trigger are folded in (ts, side,
    * tie) order with right before left on equal ts (the batch operator's
    * inclusive convention); ACROSS triggers delivery must be per-key
    * event-time in-order — a right row arriving after a left row it
    * should have matched is not retroactively applied. Out-of-order
    * backfills belong to the batch operator. */
  def streamingAsofEnrich(input: Dataset[TaggedObs]): Dataset[AsofOut] =
    keyedFold(input, (o: TaggedObs) => o.uniqueId,
        Ordering.by((o: TaggedObs) =>
          (o.ts.getTime, o.ts.getNanos, if (o.isRight) 0 else 1, o.tie)),
        (_: TaggedObs) => AsofState(None, None)) { (id, s, o: TaggedObs) =>
      if (o.isRight) (AsofState(Some(o.ts), Some(o.y)), None)
      else (s, Some(AsofOut(id, o.ts, o.y, s.asofTs, s.asofY)))
    }

  /** Streaming curation gate: the batch funnel's metric stack and verdict
    * chain are pure column expressions
    * ([[graft.ops.TextOps.curationMetrics]] /
    * [[graft.ops.TextOps.curationReason]] — the SAME definitions, so
    * batch and stream can never drift), which makes this op completely
    * STATELESS: no watermark, no state store, linear scale-out on a
    * document firehose. Decontamination (needs the bench-gram table) is a
    * stream-static broadcast join the caller composes upstream;
    * [[streamingDedup]] covers the dedup gate. Returns doc_id, reason,
    * keep, split for every arriving document. */
  def streamingCurate(input: DataFrame): DataFrame = {
    val metrics = graft.ops.TextOps.curationMetrics(input)
    val reason = graft.ops.TextOps.curationReason(None)
    graft.ops.Sampling.stableSplit(metrics, "doc_id")
      .select(col("doc_id"), reason.as("reason"),
        (reason === "keep").as("keep"), col("split"))
  }

  /** Shared per-row hashed-gram walker for the stateless selection
    * scorers: tokenizes and walks grams exactly like
    * [[graft.ops.Selection.gramBucketsUdf]] (lowercase letters-only
    * split; unigrams first, then bigrams — the same PER-DOCUMENT gram
    * enumeration order as the batch twin; the batch side then reduces via
    * a distributed sum() whose partition/shuffle order is unspecified, so
    * stream-vs-batch equality holds up to float summation order of that
    * aggregate — the specs assert 1e-9 tolerance, not bit equality), and
    * folds each gram's bucket weight into (sum, count). */
  private def gramFold(text: String, buckets: Int,
      weightOf: Int => Double): (Double, Long) = {
    if (text == null) return (0.0, 0L)
    val ws = graft.ops.TextOps.NonLetterRe.split(text.toLowerCase).filter(_.nonEmpty)
    def bucketOf(g: String): Int = {
      val x = graft.ops.TextOps.fnv64(g) % buckets
      (if (x < 0) x + buckets else x).toInt
    }
    var s = 0.0
    var i = 0
    while (i < ws.length) { s += weightOf(bucketOf(ws(i))); i += 1 }
    i = 0
    while (i < ws.length - 1) {
      s += weightOf(bucketOf(ws(i) + " " + ws(i + 1)))
      i += 1
    }
    (s, ws.length.toLong + math.max(ws.length - 1, 0).toLong)
  }

  /** Stateless streaming quality-classifier inference: the offline-fit
    * hashed-gram logistic model ([[graft.ops.Selection.textClassifierFit]],
    * the `doc_quality_classifier` pin) rides a broadcast weight array and
    * each arriving document scores in one per-row pass — no state store,
    * no watermark, no shuffle; linear scale-out on a firehose. Emits
    * `n_grams` and `quality_prob` (null on gram-less docs — the batch
    * scorer emits no row for those; filter on `quality_prob IS NOT NULL`
    * for the exact batch set). Batch twin: `textClassifierScore` — same
    * grams, same buckets, same σ(Σw/n + bias); the spec pins equality. */
  def streamingClassifierScore(input: DataFrame,
      model: graft.ops.Selection.TextClassifierModel,
      textCol: String = "text"): DataFrame = {
    val spark = input.sparkSession
    val bcW = spark.sparkContext.broadcast(model.weights)
    val buckets = model.buckets
    val bias = model.bias
    val score = udf((text: String) => {
      val (s, n) = gramFold(text, buckets, bcW.value(_))
      if (n == 0L) None
      else Some((n, 1.0 / (1.0 + math.exp(-(s / n + bias)))))
    })
    input.withColumn("__s", score(col(textCol)))
      .withColumn("n_grams", col("__s._1"))
      .withColumn("quality_prob", col("__s._2"))
      .drop("__s")
  }

  /** Stateless streaming DSIR importance scoring: the collected
    * log-likelihood-ratio array ([[graft.ops.Selection.dsirModelArray]])
    * broadcasts and each arriving document's `log_w` is one per-row gram
    * walk — the streaming form of `dsirWeights` for scoring a live feed
    * against an offline-fit target/raw model pair. Unseen buckets carry
    * the Laplace default, so out-of-corpus documents score consistently.
    * Zero state, zero shuffle. */
  def streamingDsirScore(input: DataFrame, llr: Array[Double],
      textCol: String = "text"): DataFrame = {
    val spark = input.sparkSession
    val bcL = spark.sparkContext.broadcast(llr)
    val buckets = llr.length
    val score = udf((text: String) => {
      val (s, n) = gramFold(text, buckets, bcL.value(_))
      if (n == 0L) None else Some((n, s))
    })
    input.withColumn("__s", score(col(textCol)))
      .withColumn("n_grams", col("__s._1"))
      .withColumn("log_w", col("__s._2"))
      .drop("__s")
  }

  /** Stateless streaming KN-perplexity scoring: the corpus-fit bigram
    * Kneser-Ney model ([[graft.ops.TextOps.knModelFit]]) broadcasts and
    * each arriving document's perplexity is one per-row bigram walk —
    * observed bigrams replay the batch [[graft.ops.TextOps.knPerplexity]]
    * interpolation exactly; fresh vocabulary backs off through the
    * continuation distribution with the 0.5/B floor
    * ([[graft.ops.TextOps.knLogProb]]), so out-of-corpus docs score
    * finite instead of crashing. Zero state, zero shuffle. Emits
    * `n_bigrams`, `avg_logp`, `ppl` (nulls for bigram-less docs). */
  def streamingKnScore(input: DataFrame, model: graft.ops.TextOps.KnModel,
      textCol: String = "text"): DataFrame = {
    val spark = input.sparkSession
    val bcM = spark.sparkContext.broadcast(model)
    val score = udf((text: String) => {
      val m = bcM.value
      val pairs = graft.ops.TextOps.knBigramWalk(text, m.buckets)
      if (pairs.isEmpty) None
      else {
        var s = 0.0
        var i = 0
        while (i < pairs.length) {
          s += graft.ops.TextOps.knLogProb(m, pairs(i)._1, pairs(i)._2)
          i += 1
        }
        val avg = s / pairs.length
        Some((pairs.length.toLong, avg, math.exp(-avg)))
      }
    })
    input.withColumn("__s", score(col(textCol)))
      .withColumn("n_bigrams", col("__s._1"))
      .withColumn("avg_logp", col("__s._2"))
      .withColumn("ppl", col("__s._3"))
      .drop("__s")
  }

  /** Streaming MinHash near-dup novelty: each arriving document's LSH
    * band keys (the batch [[graft.ops.Dedup.minhashLsh]] signature —
    * same shingles, same permutations, same packed band keys) are
    * checked against watermark-bounded band-key state; the op emits, per
    * document, how many of its `bands` keys were NOVEL (first seen).
    * `novel_bands = bands` ⇒ no band collides with any earlier doc —
    * certainly not a near-dup at the LSH threshold; fewer ⇒ a candidate
    * near-dup of something earlier (the batch path would jaccard-verify;
    * a streaming filter keeps candidates out or routes them to a batch
    * verifier). Documents whose EVERY band was already seen emit no row
    * (all their band rows are suppressed) — absent ⇒ strongest dup
    * signal.
    *
    * Plan shape: one narrow signature pass → posexplode to `bands`
    * keyed rows → `dropDuplicatesWithinWatermark` on the band key
    * (stateful stage 1, state = one row per distinct band key inside
    * the watermark horizon) → event-time tumbling-window count per doc
    * (stateful stage 2, the Spark 3.5+ chained-stateful-operator
    * support). Emission waits for the watermark to pass the window end
    * — the usual append-mode latency contract. Within one micro-batch,
    * which colliding doc survives is engine-order arbitrary (same
    * caveat as [[streamingDedup]]); across triggers the state makes
    * suppression deterministic. */
  def streamingNearDupNovelty(input: Dataset[Doc], bands: Int = 16,
      rowsPerBand: Int = 4, shingleN: Int = 5,
      watermarkDelay: String = "1 hour",
      windowLength: String = "10 minutes"): DataFrame = {
    val k = bands * rowsPerBand
    val sig = graft.ops.Dedup.minhashSigFromText(col("text"), shingleN, k)
    val banded = input.toDF()
      .withColumn("__sig", sig)
      .select(col("docId").as("doc_id"), col("ts"), posexplode(
        org.apache.spark.sql.functions.array((0 until bands).map { b =>
          graft.ops.Dedup.packedBandKey(col("__sig"), b, rowsPerBand)
        }: _*)).as(Seq("__band", "__bk")))
      .withWatermark("ts", watermarkDelay)
    banded
      .dropDuplicatesWithinWatermark("__band", "__bk")
      .groupBy(window(col("ts"), windowLength), col("doc_id"))
      .agg(count(lit(1)).as("novel_bands"))
      .select(col("doc_id"), col("novel_bands"),
        (col("novel_bands") === bands).as("is_novel"))
  }

  /** Full streaming curation funnel (VERDICT r6 ask #9): first-seen exact
    * dedup → exact decontamination → the stateless curation gate,
    * composed into ONE streaming plan.
    *
    * Decontamination here is per-row and STATELESS: the bench grams are
    * collected once (the one Spark job building this DataFrame starts)
    * and ride one broadcast as an exact set. Benchmark suites are MBs against a
    * TB/day stream, so the set is driver-bounded by construction — unlike
    * the batch [[graft.ops.Decontam.ngramOverlapBloom]], whose Bloom
    * filter stands in for a gram table too large to broadcast and needs a
    * verify JOIN, which here would need a streaming groupBy (stateful,
    * watermark-delayed emission) to rebuild the per-doc flag. Exact
    * membership ⇒ the flag is bit-identical to the batch funnel's
    * [[graft.ops.Decontam.ngramOverlap]]; the verdict chain and split
    * reuse the batch expressions verbatim, so stream and batch cannot
    * drift. Output: (doc_id, reason, keep, split) per FIRST-SEEN doc. */
  def streamingFunnel(input: Dataset[Doc], bench: DataFrame, n: Int = 5,
      watermarkDelay: String = "1 hour"): DataFrame = {
    // the driver-side set dedups: a distinct() would add a shuffle, and so
    // a second job under AQE
    val grams = bench.select(explode(array_distinct(
        graft.ops.Decontam.wordGrams(col("text"), n))))
      .collect().map(_.getString(0)).toSet
    val bcSet = input.sparkSession.sparkContext.broadcast(grams)
    val contaminated = udf((gs: Seq[String]) =>
      gs != null && gs.exists(bcSet.value.contains))
    val flagged = streamingDedup(input, watermarkDelay)
      .withColumnRenamed("docId", "doc_id")
      .withColumn("contaminated", contaminated(array_distinct(
        graft.ops.Decontam.wordGrams(col("text"), n))))
    val metrics = graft.ops.TextOps.curationMetrics(flagged)
    val reason = graft.ops.TextOps.curationReason(Some(col("contaminated")))
    graft.ops.Sampling.stableSplit(metrics, "doc_id")
      .select(col("doc_id"), reason.as("reason"),
        (reason === "keep").as("keep"), col("split"))
  }
}
