package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Contract of the as-of skew handling: the default path's query-stage
  * split ([[graft.plans.SplitSkewedTemporalJoin]]) returns the unsplit
  * plan's rows on every direction × tolerance × exact-match combination,
  * on a fixture with a genuinely hot key (zipfian 50%-on-one-key, the
  * r11 scale-probe distribution), keeps the plain plan below Spark's
  * thresholds and logs one event per decision. */
class AsofJoinSkewSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(ms: Long): Timestamp = new Timestamp(1704067200000L + ms)

  /** Zipfian fixture: ~half of both sides on key 0, the rest across
    * keys 1..9; right side deduped per (key, ts) so the match is
    * engine-independent. */
  private lazy val (lZipf, rZipf): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def key(): java.lang.Long =
      if (rng.nextBoolean()) 0L else (rng.nextInt(9) + 1).toLong
    val l = (1 to 800).map { i =>
      val t = if (i % 53 == 0) null else ts(rng.nextInt(500000).toLong * 97)
      (key(), t, i.toLong)
    }.toDF("k", "t", "lid")
    val r0 = (1 to 800).map { i =>
      val t = if (i % 59 == 0) null else ts(rng.nextInt(500000).toLong * 97)
      val v: java.lang.Double = if (i % 31 == 0) null else rng.nextDouble()
      (key(), t, v)
    }.toDF("k", "t", "rv")
    val r = r0.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k", "t").orderBy(desc_nulls_last("rv"))))
      .filter(col("__rn") === 1).drop("__rn")
    (l.cache(), r.cache())
  }

  // ── the default path: query-stage skew split, no opt-in ─────────────
  // asofJoin/asofJoinNative build a plain merge; when the materialized
  // left shuffle has a partition above Spark's skewJoin thresholds,
  // SplitSkewedTemporalJoin splits it and replicates the matching right
  // partition. The thresholds are lowered so the KB-scale zipfian
  // fixture qualifies; "unsplit" is the same call with
  // spark.sql.adaptive.skewJoin.enabled=false.
  import graft.SkewSplitTesting._

  private def splitVsUnsplit(build: => DataFrame)
      : ((Seq[String], Int), (Seq[String], Int)) =
    withConfs(spark, LowThresholds) {
      (runSplit(build), withConfs(spark, SkewOff)(runSplit(build)))
    }

  test("auto-routing: asofJoinNative detects and slices with no opt-in") {
    val ((split, nSplit), (plain, nPlain)) = splitVsUnsplit(
      TemporalJoins.asofJoinNative(lZipf, rZipf, Seq("k"), "t", "t",
        Seq("rv")))
    assert(nSplit === 1, "the hot left partition must be split")
    assert(nPlain === 0)
    assert(split === plain)
    assert(split.size === 800)
  }

  test("asofJoin gets the same query-stage split as asofJoinNative") {
    val ((split, nSplit), (plain, nPlain)) = splitVsUnsplit(
      TemporalJoins.asofJoin(lZipf, rZipf, Seq("k"), "t", "t", Seq("rv")))
    assert(nSplit === 1, "asofJoin delegates to the native operator")
    assert(nPlain === 0)
    assert(split === plain)
  }

  test("below the detection floor the plain single-node plan is kept") {
    // Spark's default thresholds (256 MB) vs a KB-scale fixture: one
    // AsofJoin node, no split at run time
    val df = TemporalJoins.asofJoinNative(lZipf, rZipf, Seq("k"), "t", "t",
      Seq("rv"))
    assert(df.queryExecution.optimizedPlan.collect {
      case p if p.nodeName == "AsofJoin" => p
    }.size === 1)
    assert(runSplit(df)._2 === 0)
  }

  test("the split decision logs one graft.events line with its inputs") {
    val (_, lines) = captureEvents(withConfs(spark, LowThresholds)(
      runSplit(TemporalJoins.asofJoinNative(lZipf, rZipf, Seq("k"), "t",
        "t", Seq("rv")))))
    val skew = lines.filter(_.contains("\"event\":\"skew_split\""))
    assert(skew.size === 1, lines.mkString("\n"))
    Seq("\"op\":\"AsofJoinExec\"", "\"median_bytes\":", "\"max_bytes\":",
      "\"threshold_bytes\":", "\"splits\":", "\"kept\":true")
      .foreach(f => assert(skew.head.contains(f), skew.head))
  }

  for {
    dir <- Seq("backward", "forward", "nearest")
    exact <- Seq(true, false)
    tol <- Seq(None, Some(3600L * 1000000L))
  } test(s"split == unsplit on zipfian keys: $dir exact=$exact tol=${tol.isDefined}") {
    val ((split, nSplit), (plain, _)) = splitVsUnsplit(
      TemporalJoins.asofJoinNative(lZipf, rZipf, Seq("k"), "t", "t",
        Seq("rv"), direction = dir, toleranceUs = tol,
        allowExactMatches = exact))
    assert(nSplit === 1)
    assert(split === plain)
  }
}
