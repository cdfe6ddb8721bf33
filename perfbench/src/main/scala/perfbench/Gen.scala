package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a pure function of
  * (seed, row id), so the same seed gives the same rows on any machine
  * and at any parallelism. graft only ever sees the written files. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) keyed by (seed, a, b). */
  def unif(seed: Long, a: Long, b: Long): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + a) ^ (b * 0x9E3779B97F4A7C15L)) >>> 11) *
      (1.0 / (1L << 53))

  def gauss(seed: Long, a: Long, b: Long): Double = {
    val u1 = math.max(unif(seed, a, 2 * b), 1e-12)
    val u2 = unif(seed, a, 2 * b + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** 2024-01-01T00:00:00 in epoch microseconds. */
  val BaseUs: Long = 1704067200000000L
  val HourUs: Long = 3600L * 1000000L

  // ── panel_features ──────────────────────────────────────────────────

  /** One hourly series: linear trend, daily seasonality, unit gaussian
    * noise and one level shift at a seeded point in its middle 40%. The
    * kernel-rate probe calls this too, so it times the kernels on exactly
    * the series the workload stores. */
  def series(seed: Long, sid: Long, len: Int): Array[Double] = {
    val slope = (unif(seed, sid, -1) - 0.5) * 0.02
    val amp = 2 + 8 * unif(seed, sid, -2)
    val phase = 2 * math.Pi * unif(seed, sid, -3)
    val shiftAt = (len * (0.3 + 0.4 * unif(seed, sid, -4))).toInt
    val shift = (unif(seed, sid, -5) - 0.5) * 20
    Array.tabulate(len) { t =>
      50 + slope * t + amp * math.sin(2 * math.Pi * t / 24 + phase) +
        gauss(seed, sid, t) + (if (t >= shiftAt) shift else 0.0)
    }
  }

  def writePanel(spark: SparkSession, dir: String, seed: Long,
      nSeries: Int, len: Int): Map[String, Any] = {
    import spark.implicits._
    val panel = spark.range(0, nSeries, 1, 4).as[Long]
      .flatMap(sid => series(seed, sid, len).iterator.zipWithIndex
        .map { case (v, t) => (sid, t.toLong, v) })
      .toDF("series_id", "t", "value")
      .select(col("series_id"),
        timestamp_micros(lit(BaseUs) + col("t") * HourUs).cast("timestamp_ntz").as("ts"),
        col("value"))
    panel.write.mode("overwrite").parquet(s"$dir/panel.parquet")
    // 6-hourly covariate, offset by 3 h so every as-of match is a strict
    // backward match
    val nCov = len / 6
    spark.range(0, nSeries.toLong * nCov, 1, 4).as[Long]
      .map(i => (i / nCov, i % nCov, unif(seed, i, 7) * 10))
      .toDF("series_id", "k", "cov")
      .select(col("series_id"),
        timestamp_micros(lit(BaseUs) + (col("k") * 6 + 3) * HourUs)
          .cast("timestamp_ntz").as("ts"),
        col("cov"))
      .write.mode("overwrite").parquet(s"$dir/covariates.parquet")
    Map("series" -> nSeries, "points_per_series" -> len,
      "rows" -> nSeries.toLong * len, "covariate_rows" -> nSeries.toLong * nCov,
      "hot_key_share" -> 1.0 / nSeries)
  }

  // ── temporal_skew ───────────────────────────────────────────────────

  /** User id with a power-law skew: P(user 0) = (1/nUsers)^(1/skewExp),
    * which is 8% for 20,000 users at the exponent used here. */
  def skewedUser(seed: Long, i: Long, nUsers: Int, skewExp: Double): Long =
    math.min(nUsers - 1, math.floor(nUsers * math.pow(unif(seed, i, 1), skewExp)).toLong)

  private val EventTypes = Array("view", "click", "purchase", "error")
  private val EventCum = Array(0.55, 0.85, 0.95, 1.0)

  def writeEvents(spark: SparkSession, dir: String, seed: Long,
      nEvents: Int, nUsers: Int, skewExp: Double, propsHexChars: Int): Map[String, Any] = {
    import spark.implicits._
    val spanUs = 30L * 24 * HourUs
    // an opaque payload, like the `props` column of an event log: it sets
    // the file size the as-of skew routing reads, and scans prune it away
    val props = concat((0 until (propsHexChars + 127) / 128).map(k =>
      sha2(concat_ws(":", lit(seed), col("event_id"), lit(k)), 512)): _*)
    val ev = spark.range(0, nEvents, 1, 4).as[Long].map { i =>
      val u = unif(seed, i, 3)
      (i, BaseUs + (unif(seed, i, 2) * spanUs).toLong,
        skewedUser(seed, i, nUsers, skewExp), EventTypes(EventCum.indexWhere(u < _)),
        math.round(unif(seed, i, 4) * 20000) / 100.0)
    }.toDF("event_id", "tus", "user_id", "event_type", "value")
      .select(col("event_id"),
        timestamp_micros(col("tus")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"),
        substring(props, 1, propsHexChars).as("props"))
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val perUser = new Array[Int](nUsers)
    (0L until nEvents).foreach(i => perUser(skewedUser(seed, i, nUsers, skewExp).toInt) += 1)
    val hot = perUser.max
    Map("rows" -> nEvents.toLong, "users" -> nUsers,
      "hot_key_share" -> hot.toDouble / nEvents)
  }
}
