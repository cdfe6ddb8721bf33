package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Contract of the skew tier. The explicit
  * [[TemporalJoins.asofJoinSalted]] returns exactly
  * [[TemporalJoins.asofJoinNative]]'s rows on every
  * direction × tolerance × exact-match combination, on a fixture with a
  * genuinely hot key (zipfian 50%-on-one-key, the r11 scale-probe
  * distribution), on one where nothing crosses the hot threshold (pure
  * fall-through), and on boundary shapes the slice replication must
  * survive (sparse right side where the carry spans many empty slices,
  * hot NULL key, all-rows-one-timestamp degenerate width). The default
  * path's query-stage split returns the unsplit plan's rows on every
  * combination too. */
class AsofJoinSaltedSpec extends AnyFunSuite {
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

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  for {
    dir <- Seq("backward", "forward", "nearest")
    exact <- Seq(true, false)
    tol <- Seq(None, Some(3600L * 1000000L))
  } test(s"salted == native on zipfian keys: $dir exact=$exact tol=${tol.isDefined}") {
    val native = TemporalJoins.asofJoinNative(lZipf, rZipf, Seq("k"), "t",
      "t", Seq("rv"), direction = dir, toleranceUs = tol,
      allowExactMatches = exact)
    val salted = TemporalJoins.asofJoinSalted(lZipf, rZipf, Seq("k"), "t",
      "t", Seq("rv"), direction = dir, toleranceUs = tol,
      allowExactMatches = exact, saltBuckets = 8, hotKeyShare = 0.05)
    assert(canon(salted) === canon(native))
  }

  test("no hot key: pure fall-through to the native plan") {
    import spark.implicits._
    val l = (1 to 200).map(i => ((i % 50).toLong, ts(i * 1000L), i.toLong))
      .toDF("k", "t", "lid")
    val r = (1 to 200).map(i => ((i % 50).toLong, ts(i * 1700L), i * 1.0))
      .toDF("k", "t", "rv")
    val salted = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), saltBuckets = 8, hotKeyShare = 0.05)
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv"))
    assert(canon(salted) === canon(native))
    // fall-through = a single AsofJoin node, no union of hot+cold
    assert(salted.queryExecution.optimizedPlan.collect {
      case p if p.nodeName == "AsofJoin" => p
    }.size === 1)
  }

  test("sparse right side: carry crosses many empty slices") {
    import spark.implicits._
    // ONE right row at t=0; 100 hot-key left probes spread over a wide
    // range — every slice except slice 0 must see the replicated carry
    val l = (1 to 100).map(i => (1L, ts(i * 100000L), i.toLong))
      .toDF("k", "t", "lid")
    val r = Seq((1L, ts(0L), 42.0)).toDF("k", "t", "rv")
    val salted = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), saltBuckets = 8, hotKeyShare = 0.01)
    val out = salted.collect()
    assert(out.length === 100)
    assert(out.forall(_.getAs[Double]("rv") === 42.0))
  }

  test("strict backward across a slice boundary needs the 2-deep carry") {
    import spark.implicits._
    // right rows only in slice 0; probe far later at exactly the last
    // right timestamp must (strict) fall back to the second-last
    val r = Seq((1L, ts(1000L), 1.0), (1L, ts(2000L), 2.0))
      .toDF("k", "t", "rv")
    val l = (1 to 50).map(i => (1L, ts(2000L + i * 100000L), i.toLong))
      .toDF("k", "t", "lid") // spread probes so slices split the range
      .union(Seq((1L, ts(2000L), 0L)).toDF("k", "t", "lid"))
    val salted = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), allowExactMatches = false, saltBuckets = 8,
      hotKeyShare = 0.01)
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv"), allowExactMatches = false)
    assert(canon(salted) === canon(native))
    val atBoundary = salted.filter(col("lid") === 0L).collect()(0)
    assert(atBoundary.getAs[Double]("rv") === 1.0,
      "strict probe at the last right ts must fall back one distinct ts")
  }

  test("hot NULL key is split and matches the native result") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val l = (1 to 300).map { i =>
      val k: java.lang.Long = if (i % 2 == 0) null else (i % 5).toLong
      (k, ts(rng.nextInt(100000).toLong * 31), i.toLong)
    }.toDF("k", "t", "lid")
    val r = (1 to 300).map { i =>
      val k: java.lang.Long = if (i % 2 == 1) null else (i % 5).toLong
      (k, ts(rng.nextInt(100000).toLong * 37), i * 1.0)
    }.toDF("k", "t", "rv").dropDuplicates("k", "t")
    val salted = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), saltBuckets = 4, hotKeyShare = 0.1)
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv"))
    assert(canon(salted) === canon(native))
  }

  test("degenerate width: every hot row on one timestamp") {
    import spark.implicits._
    val l = (1 to 100).map(i => (1L, ts(5000L), i.toLong)).toDF("k", "t", "lid")
    val r = Seq((1L, ts(5000L), 9.0), (1L, ts(4000L), 4.0))
      .toDF("k", "t", "rv")
    val salted = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), saltBuckets = 8, hotKeyShare = 0.01)
    assert(salted.collect().forall(_.getAs[Double]("rv") === 9.0))
    val strict = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), allowExactMatches = false, saltBuckets = 8,
      hotKeyShare = 0.01)
    assert(strict.collect().forall(_.getAs[Double]("rv") === 4.0))
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

  test("hot key splits into multiple merge partitions (the point)") {
    import spark.implicits._
    val l = (1 to 2000).map(i => (1L, ts(i * 1000L), i.toLong))
      .toDF("k", "t", "lid")
    val r = (1 to 2000).map(i => (1L, ts(i * 1300L), i * 1.0))
      .toDF("k", "t", "rv")
    val salted = TemporalJoins.asofJoinSalted(l, r, Seq("k"), "t", "t",
      Seq("rv"), saltBuckets = 8, hotKeyShare = 0.01)
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv"))
    assert(canon(salted) === canon(native))
    // the salted plan really is the two-branch union: hot AsofJoin on
    // (k, __gslice) + cold AsofJoin on k
    assert(salted.queryExecution.optimizedPlan.collect {
      case p if p.nodeName == "AsofJoin" => p
    }.size === 2)
  }
}
