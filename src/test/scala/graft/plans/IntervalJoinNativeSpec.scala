package graft.plans

import graft.SkewSplitTesting.withConfs
import graft.TestSpark
import graft.ops.TemporalJoins
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The one interval-join operator: [[IntervalJoinExec]] must equal a
  * brute-force inequality join on randomized data (boundaries, nulls,
  * multiple overlaps) in both of its distributions (broadcast right
  * side, or both sides hash-partitioned), handle intervals of any
  * width, keep the no-explosion plan shape (no Generate/explode
  * anywhere), and share the pushdown/prune rules. */
class IntervalJoinNativeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The brute-force reference join, canonicalized as [[canon]]: every
    * (left row, right row without its key) pair with equal non-null
    * keys (column 0 on both sides) that `pred` admits. */
  private def brute(l: DataFrame, r: DataFrame)(
      pred: (Row, Row) => Boolean): Seq[String] = {
    val rs = r.collect().toSeq
    l.collect().toSeq.flatMap(a => rs.collect {
      case b if !a.isNullAt(0) && a.get(0) == b.get(0) && pred(a, b) =>
        Row.fromSeq(a.toSeq ++ b.toSeq.tail).toString
    }).sorted
  }

  /** Left time (column 1) inside the right `[start, end)` (columns 1, 2),
    * or `[start, end]` with `incl`; a null never matches. */
  private def inRange(incl: Boolean)(a: Row, b: Row): Boolean = {
    val (t, s, e) = (a.getTimestamp(1), b.getTimestamp(1), b.getTimestamp(2))
    t != null && s != null && e != null && !t.before(s) &&
      (if (incl) !t.after(e) else t.before(e))
  }

  /** Half-open intervals (columns 1, 2 on each side) that overlap. */
  private def overlaps(a: Row, b: Row): Boolean =
    a.getTimestamp(1).before(b.getTimestamp(2)) &&
      b.getTimestamp(1).before(a.getTimestamp(2))

  private val NoBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    graft.SkewSplitTesting.collect(p) { case e: ShuffleExchangeLike => e }

  /** Builds and checks `df` in both distributions: as planned (the
    * KB-scale fixtures pass Spark's broadcast size test, so the right
    * side is broadcast and nothing is shuffled at the join), and with
    * broadcasting off (both sides hash-partitioned). */
  private def inBothModes(build: => DataFrame)(check: DataFrame => Unit): Unit =
    for (broadcast <- Seq(true, false))
      withConfs(spark, if (broadcast) Map.empty else NoBroadcast) {
        val df = build
        check(df)
        val joins = graft.SkewSplitTesting.collect(df.queryExecution.executedPlan) {
          case j: IntervalJoinExec => j
        }
        assert(joins.nonEmpty)
        joins.foreach { j =>
          assert(j.broadcastRight === broadcast, j)
          if (broadcast) {
            assert(shuffles(j.left).isEmpty && shuffles(j.right).isEmpty, j)
            assert(graft.SkewSplitTesting.collect(j.right) {
              case b: BroadcastExchangeLike => b }.size === 1, j)
          } else for (side <- Seq(j.left, j.right)) {
            val Seq(e) = shuffles(side)
            assert(e.outputPartitioning.isInstanceOf[HashPartitioning], e)
          }
        }
      }

  private lazy val (probes, intervals): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    val l = (1 to 400).map { i =>
      val k: java.lang.Long =
        if (i % 19 == 0) null else (rng.nextInt(5) + 1).toLong
      val t =
        if (i % 31 == 0) null
        else new Timestamp(base + rng.nextInt(200000) * 1000L)
      (k, t, i.toLong)
    }.toDF("k", "t", "pid")
    val r = (1 to 150).map { i =>
      val k: java.lang.Long =
        if (i % 23 == 0) null else (rng.nextInt(5) + 1).toLong
      val s0 = base + rng.nextInt(180000) * 1000L
      val len = (rng.nextInt(40000) + 1) * 1000L
      val s: Timestamp =
        if (i % 29 == 0) null else new Timestamp(s0)
      // null ENDS too: the exec's null-end discard branch must agree
      // with the reference join's null rule
      val e: Timestamp =
        if (i % 37 == 0) null else new Timestamp(s0 + len)
      (k, s, e, i.toLong)
    }.toDF("k", "w_start", "w_end", "iid")
    (l.cache(), r.cache())
  }

  /** Left and right intervals for the overlap join: a few zero-length
    * (degenerate) ones, and exact equal-start pairs across the sides
    * (the exactly-once decomposition's boundary case). */
  private lazy val (overlapL, overlapR): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = ts("2024-01-01 00:00:00").getTime
    def mk(n: Int, seedOff: Int) = (1 to n).map { i =>
      val k = (rng.nextInt(4) + 1).toLong
      val s0 = base + rng.nextInt(100000) * 1000L
      val len = if (i % 21 == 0) 0L else (rng.nextInt(30000) + 1) * 1000L
      (k, new Timestamp(s0), new Timestamp(s0 + len), (i + seedOff).toLong)
    }
    val l = mk(120, 0).toDF("k", "ls", "le", "lid")
    val r = mk(120, 1000).toDF("k", "rs", "re", "rid")
    (l.unionByName(r.select(col("k"), col("rs").as("ls"),
      col("re").as("le"), (col("rid") + 5000L).as("lid"))), r)
  }

  for (incl <- Seq(false, true))
    test(s"rangeJoinNative == brute force in both modes, inclusiveEnd=$incl") {
      inBothModes(TemporalJoins.rangeJoinNative(probes, intervals, Seq("k"),
          "t", "w_start", "w_end", inclusiveEnd = incl)) { native =>
        assert(native.columns.toSeq ===
          Seq("k", "t", "pid", "w_start", "w_end", "iid"))
        assert(canon(native) === brute(probes, intervals)(inRange(incl)))
      }
    }

  test("intervals beyond the bucketed form's valve are fine natively") {
    import spark.implicits._
    // a 2-year interval is read once, however wide it is
    val l = Seq((1L, ts("2024-06-01 12:00:00"), "in"),
      (1L, ts("2027-01-01 00:00:00"), "out")).toDF("k", "t", "lv")
    val r = Seq((1L, ts("2024-01-01 00:00:00"),
      ts("2026-01-01 00:00:00"), "long")).toDF("k", "w_start", "w_end", "tag")
    val out = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t",
      "w_start", "w_end")
    val got = out.collect().map(x =>
      x.getAs[String]("lv") -> x.getAs[String]("tag"))
    assert(got.toSeq === Seq("in" -> "long"))
  }

  test("plan shape: IntervalJoin merge, no Generate/explode, per-side sorts") {
    import spark.implicits._
    val l = (1 to 50).map(i => ((i % 5).toLong,
      new Timestamp(1704067200000L + i * 1000L), i.toLong)).toDF("k", "t", "pid")
    val r = (1 to 20).map(i => ((i % 5).toLong,
      new Timestamp(1704067200000L + i * 2000L),
      new Timestamp(1704067200000L + i * 2000L + 30000L), i.toLong))
      .toDF("k", "w_start", "w_end", "iid")
    // the shuffled mode, where each side has its own exchange and sort
    val df = withConfs(spark, NoBroadcast) {
      val d = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t",
        "w_start", "w_end")
      d.collect()
      d
    }
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(s.contains("IntervalJoin"), s)
    assert(!s.contains("Generate"), "native form must not explode intervals")
    assert(s.contains("Sort") && s.contains("Exchange"), s)
  }

  test("boundary semantics: inclusive start, exclusive end (default)") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 00:00:00"), "atStart"),
      (1L, ts("2024-01-01 01:00:00"), "atEnd"),
      (1L, ts("2024-01-01 00:30:00"), "inside")).toDF("k", "t", "lv")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"),
      "w")).toDF("k", "w_start", "w_end", "tag")
    def names(incl: Boolean) =
      TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t", "w_start", "w_end",
        inclusiveEnd = incl).collect().map(_.getAs[String]("lv")).sorted.toSeq
    assert(names(false) === Seq("atStart", "inside"))
    assert(names(true) === Seq("atEnd", "atStart", "inside"))
  }

  test("stacked overlapping intervals all match a probe inside them") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 00:30:00"), "p")).toDF("k", "t", "lv")
    val r = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), 1L),
      (1L, ts("2024-01-01 00:15:00"), ts("2024-01-01 00:45:00"), 2L),
      (1L, ts("2024-01-01 00:29:00"), ts("2024-01-01 00:31:00"), 3L),
      (1L, ts("2024-01-01 00:31:00"), ts("2024-01-01 00:32:00"), 4L))
      .toDF("k", "w_start", "w_end", "iid")
    val got = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t",
      "w_start", "w_end").collect().map(_.getAs[Long]("iid")).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("overlapJoinNative == brute force in both modes") {
    inBothModes(TemporalJoins.overlapJoinNative(overlapL, overlapR, Seq("k"),
        "ls", "le", "rs", "re")) { native =>
      assert(native.columns.toSeq === Seq("k", "ls", "le", "lid", "rs", "re", "rid"))
      assert(canon(native) === brute(overlapL, overlapR)(overlaps))
    }
  }

  test("shared rules fire: left filter pushed below, unused payload pruned") {
    import spark.implicits._
    val l = (1 to 50).map(i => ((i % 5).toLong,
      new Timestamp(1704067200000L + i * 1000L), i.toLong, s"wide$i"))
      .toDF("k", "t", "pid", "wide_l")
    val r = (1 to 20).map(i => ((i % 5).toLong,
      new Timestamp(1704067200000L + i * 2000L),
      new Timestamp(1704067200000L + i * 2000L + 30000L), i.toLong, s"v$i"))
      .toDF("k", "w_start", "w_end", "iid", "wide_r")
    val joined = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t",
      "w_start", "w_end")
    val opt = joined.filter(col("pid") < 10).select("k", "pid", "iid")
      .queryExecution.optimizedPlan
    val ij = opt.collectFirst { case n: IntervalJoin => n }.get
    assert(ij.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "pid") => f
    }.isDefined, s"pid filter not pushed:\n$opt")
    assert(!ij.left.output.exists(_.name == "wide_l"), s"wide_l not pruned:\n$opt")
    assert(!ij.payloadAttrs.exists(_.name == "wide_r"), "wide_r not pruned")
  }

  test("case-differing right column still gets the _right rename") {
    import spark.implicits._
    val l = (1 to 10).map(i => (1L,
      new Timestamp(1704067200000L + i * 1000L), i * 1.0))
      .toDF("k", "t", "Val")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"),
      2.0)).toDF("k", "s", "e", "val")
    // resolution is case-insensitive by default, so left Val vs right
    // val IS ambiguous: the join must emit val_right
    val native = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t", "s", "e")
    assert(native.columns.toSeq === Seq("k", "t", "Val", "s", "e", "val_right"))
    assert(canon(native) === brute(l, r)(inRange(incl = false)))
    assert(native.select(col("Val"), col("val_right")).count() === 10)
  }

  test("mixed-width keys coerce to the common type (int left, long right)") {
    import spark.implicits._
    val l = Seq((5, ts("2024-01-01 10:00:00"), "a"),
      (7, ts("2024-01-01 10:00:00"), "b")).toDF("k", "t", "lv")
    val r = Seq(
      (5L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00"), 1.0),
      (7L, ts("2024-01-01 09:30:00"), ts("2024-01-01 10:30:00"), 2.0))
      .toDF("k", "w_start", "w_end", "rv")
    val native = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t",
      "w_start", "w_end").collect().map(x =>
        x.getAs[String]("lv") -> x.getAs[Double]("rv")).toMap
    assert(native === Map("a" -> 1.0, "b" -> 2.0),
      "int-vs-long keys must hash/compare on the coerced common type")
  }

  test("reserved names are matched under the session's case rules") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 00:30:00"), "p")).toDF("k", "t", "__LTU")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"),
      1L)).toDF("k", "w_start", "w_end", "iid")
    val e = intercept[IllegalArgumentException] {
      TemporalJoins.rangeJoinNative(l, r, Seq("k"), "t", "w_start", "w_end")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }
}
