package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Semantics + plan-shape coverage for the temporal-join tier.
  *
  * Semantics pinned here (each is a contract the gate oracles rely on):
  * inclusive equal-timestamp matching in both directions, null right
  * VALUES still match (the struct carry must not skip them), tolerance
  * nulls the carried columns without dropping the left row, nearest
  * breaks exact-distance ties backward, range-join end is exclusive by
  * default and bucket boundaries don't double-match, sessionize starts a
  * new session strictly-greater-than the gap.
  *
  * Plan shapes pinned: asofJoin = ONE exchange (no join operator at
  * all), rangeJoin = the IntervalJoinExec sweep (never a
  * BroadcastNestedLoopJoin / CartesianProduct).
  */
class TemporalJoinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def leftDf: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 12:00:00"), "b"),
      (2L, ts("2024-01-01 09:00:00"), "c"), // before any right row of key 2
      (3L, ts("2024-01-01 10:00:00"), "d")  // key with no right rows
    ).toDF("k", "t", "lv")
  }

  private def rightDf: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 09:30:00"), 1.0),
      (1L, ts("2024-01-01 10:00:00"), 2.0),  // equal-ts: must match backward AND forward
      (1L, ts("2024-01-01 11:00:00"), 3.0),
      (2L, ts("2024-01-01 09:30:00"), 4.0)
    ).toDF("k", "t", "rv")
  }

  private def collectByLv(df: DataFrame): Map[String, (Option[Timestamp], Option[Double])] =
    df.collect().map { r =>
      val lv = r.getAs[String]("lv")
      lv -> (Option(r.getAs[Timestamp]("asof_ts")),
        Option(r.getAs[java.lang.Double]("rv")).map(_.doubleValue))
    }.toMap

  test("asofJoin backward: latest at-or-before, inclusive on equal ts") {
    val out = TemporalJoins.asofJoin(leftDf, rightDf, Seq("k"), "t", "t", Seq("rv"))
    val m = collectByLv(out)
    assert(m("a") == (Some(ts("2024-01-01 10:00:00")), Some(2.0))) // equal ts wins over 09:30
    assert(m("b") == (Some(ts("2024-01-01 11:00:00")), Some(3.0)))
    assert(m("c") == (None, None)) // left row kept, unmatched
    assert(m("d") == (None, None))
    assert(out.count() == 4)
  }

  test("asofJoin forward: earliest at-or-after, inclusive on equal ts") {
    val out = TemporalJoins.asofJoin(leftDf, rightDf, Seq("k"), "t", "t",
      Seq("rv"), direction = "forward")
    val m = collectByLv(out)
    assert(m("a") == (Some(ts("2024-01-01 10:00:00")), Some(2.0)))
    assert(m("b") == (None, None)) // nothing after 12:00
    assert(m("c") == (Some(ts("2024-01-01 09:30:00")), Some(4.0)))
  }

  test("asofJoin nearest: picks closer side, exact tie goes backward") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"), "x")).toDF("k", "t", "lv")
    val r = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),  // 1h before
      (1L, ts("2024-01-01 11:00:00"), 2.0)   // 1h after — exact tie
    ).toDF("k", "t", "rv")
    val m = collectByLv(TemporalJoins.asofJoin(l, r, Seq("k"), "t", "t",
      Seq("rv"), direction = "nearest"))
    assert(m("x") == (Some(ts("2024-01-01 09:00:00")), Some(1.0)))
    val r2 = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),
      (1L, ts("2024-01-01 10:30:00"), 2.0)   // 30m after — closer
    ).toDF("k", "t", "rv")
    val m2 = collectByLv(TemporalJoins.asofJoin(l, r2, Seq("k"), "t", "t",
      Seq("rv"), direction = "nearest"))
    assert(m2("x") == (Some(ts("2024-01-01 10:30:00")), Some(2.0)))
  }

  test("asofJoin allowExactMatches=false: equal-ts right row is invisible") {
    val out = TemporalJoins.asofJoin(leftDf, rightDf, Seq("k"), "t", "t",
      Seq("rv"), allowExactMatches = false)
    val m = collectByLv(out)
    // 'a' at 10:00 must now skip the equal-ts 10:00 right and take 09:30
    assert(m("a") == (Some(ts("2024-01-01 09:30:00")), Some(1.0)))
    assert(m("b") == (Some(ts("2024-01-01 11:00:00")), Some(3.0)))
    // forward strict: 'a' skips equal-ts 10:00 and takes 11:00
    val fwd = TemporalJoins.asofJoin(leftDf, rightDf, Seq("k"), "t", "t",
      Seq("rv"), direction = "forward", allowExactMatches = false)
    val mf = collectByLv(fwd)
    assert(mf("a") == (Some(ts("2024-01-01 11:00:00")), Some(3.0)))
  }

  test("asofJoin tolerance: match outside tolerance nulled, row kept") {
    val out = TemporalJoins.asofJoin(leftDf, rightDf, Seq("k"), "t", "t",
      Seq("rv"), toleranceUs = Some(30L * 60 * 1000000)) // 30 min
    val m = collectByLv(out)
    assert(m("a") == (Some(ts("2024-01-01 10:00:00")), Some(2.0))) // 0 gap
    assert(m("b") == (None, None)) // 1h gap > 30min: nulled, not dropped
    assert(out.count() == 4)
  }

  test("asofJoin: null right VALUE still matches (carry must not skip it)") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"), "x")).toDF("k", "t", "lv")
    val r = Seq(
      (1L, ts("2024-01-01 08:00:00"), Some(7.0)),
      (1L, ts("2024-01-01 09:00:00"), None: Option[Double]) // latest, null value
    ).toDF("k", "t", "rv")
    val m = collectByLv(TemporalJoins.asofJoin(l, r, Seq("k"), "t", "t", Seq("rv")))
    // matched the 09:00 row (its ts is carried) even though its value is null
    assert(m("x") == (Some(ts("2024-01-01 09:00:00")), None))
  }

  test("asofJoin: null times — right rows ignored, left rows unmatched") {
    import spark.implicits._
    val l = Seq(
      (1L, Some(ts("2024-01-01 10:00:00")), "x"),
      (1L, None: Option[Timestamp], "nullt")
    ).toDF("k", "t", "lv")
    val r = Seq(
      (1L, Some(ts("2024-01-01 09:00:00")), 1.0),
      (1L, None: Option[Timestamp], 99.0) // null-time right: must be ignored
    ).toDF("k", "t", "rv")
    for (d <- Seq("backward", "forward", "nearest")) {
      val m = collectByLv(TemporalJoins.asofJoin(l, r, Seq("k"), "t", "t",
        Seq("rv"), direction = d))
      assert(m("nullt") == (None, None), s"null-time left must be unmatched ($d)")
      assert(m("x")._2 != Some(99.0), s"null-time right must never match ($d)")
      assert(m.size == 2, s"left rows preserved ($d)")
    }
  }

  test("asofJoin: right column colliding with left name gets _right suffix") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"), 5.0)).toDF("k", "t", "v")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 9.0)).toDF("k", "t", "v")
    val out = TemporalJoins.asofJoin(l, r, Seq("k"), "t", "t", Seq("v"))
    assert(out.columns.contains("v") && out.columns.contains("v_right"))
    val row = out.collect().head
    assert(row.getAs[Double]("v") == 5.0 && row.getAs[Double]("v_right") == 9.0)
  }

  test("asofJoin plan: one AsofJoin merge, no generic join operator") {
    val out = TemporalJoins.asofJoin(leftDf, rightDf, Seq("k"), "t", "t", Seq("rv"))
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("AsofJoin".r.findAllIn(plan).length == 1, plan)
    Seq("SortMergeJoin", "HashJoin", "NestedLoopJoin", "CartesianProduct", "Window")
      .foreach(op => assert(!plan.contains(op), s"asofJoin plan has $op:\n$plan"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected one hash exchange per side, got $exchanges:\n$plan")
  }

  test("pointInTimeJoin: multi-table snapshot, leakage-free") {
    import spark.implicits._
    val spine = Seq((1L, ts("2024-01-01 12:00:00"), "label"))
      .toDF("k", "t", "y")
    val f1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (1L, ts("2024-01-01 13:00:00"), 99.0)  // FUTURE: must never leak
    ).toDF("k", "t", "score")
    val f2 = Seq((1L, ts("2024-01-01 06:00:00"), 7.0)).toDF("k", "t", "risk")
    val out = TemporalJoins.pointInTimeJoin(spine, Seq("k"), "t", Seq(
      (f1, "t", Seq("score"), None),
      (f2, "t", Seq("risk"), Some(3L * 3600 * 1000000)) // 3h tol: 6h gap → null
    ))
    val row = out.collect().head
    assert(row.getAs[Double]("score") == 10.0, "future feature row leaked")
    assert(row.getAs[Timestamp]("asof_ts_0") == ts("2024-01-01 10:00:00"))
    assert(row.getAs[Any]("risk") == null, "tolerance must null stale features")
    assert(out.count() == 1)
  }

  test("rangeJoin: matches [start,end) exactly, incl. bucket boundaries") {
    import spark.implicits._
    val hour = 3600L * 1000000
    // intervals chosen to straddle bucket edges with bucketUs = 1h
    val r = Seq(
      (1L, 10L, ts("2024-01-01 10:30:00"), ts("2024-01-01 12:30:00")),
      (1L, 11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:00:00")) // empty [t,t)
    ).toDF("k", "win_id", "w_start", "w_end")
    val l = Seq(
      (1L, 100L, ts("2024-01-01 10:30:00")), // == start: in
      (1L, 101L, ts("2024-01-01 11:00:00")), // exact bucket boundary: in win 10 only
      (1L, 102L, ts("2024-01-01 12:30:00")), // == end: out (exclusive)
      (1L, 103L, ts("2024-01-01 09:59:59")), // before: out
      (2L, 104L, ts("2024-01-01 11:00:00"))  // wrong key: out
    ).toDF("k", "ev_id", "t")
    val out = TemporalJoins.rangeJoin(l, r, Seq("k"), "t", "w_start", "w_end", hour)
    val pairs = out.select("ev_id", "win_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs == Set((100L, 10L), (101L, 10L)))
    // inclusive end picks up ev 102 AND the degenerate [t,t] window 11
    val inc = TemporalJoins.rangeJoin(l, r, Seq("k"), "t", "w_start", "w_end",
      hour, inclusiveEnd = true)
    assert(inc.select("ev_id", "win_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((100L, 10L), (101L, 10L), (101L, 11L), (102L, 10L)))
    // no keys: a keyless interval join is refused, not run
    intercept[IllegalArgumentException] {
      TemporalJoins.rangeJoin(l, r, Nil, "t", "w_start", "w_end", hour)
    }
  }

  test("rangeJoin: no pair duplicated across buckets") {
    import spark.implicits._
    val hour = 3600L * 1000000
    // one interval spanning 5 buckets, one left row inside
    val r = Seq((1L, 10L, ts("2024-01-01 08:00:00"), ts("2024-01-01 13:00:00")))
      .toDF("k", "win_id", "w_start", "w_end")
    val l = Seq((1L, 100L, ts("2024-01-01 10:15:00"))).toDF("k", "ev_id", "t")
    val out = TemporalJoins.rangeJoin(l, r, Seq("k"), "t", "w_start", "w_end", hour)
    assert(out.count() == 1)
  }

  test("rangeJoin plan: equi join, never nested-loop/cartesian") {
    import spark.implicits._
    val hour = 3600L * 1000000
    val r = Seq((1L, 10L, ts("2024-01-01 08:00:00"), ts("2024-01-01 13:00:00")))
      .toDF("k", "win_id", "w_start", "w_end")
    val l = Seq((1L, 100L, ts("2024-01-01 10:15:00"))).toDF("k", "ev_id", "t")
    val out = TemporalJoins.rangeJoin(l, r, Seq("k"), "t", "w_start", "w_end", hour)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    assert(graft.SkewSplitTesting.collect(out.queryExecution.executedPlan) {
      case j: graft.plans.IntervalJoinExec => j }.size == 1,
      s"rangeJoin must run the sweep:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rangeJoin must stay an equi join:\n$plan")
  }

  test("rangeJoin: a 30-day interval is joined whatever bucketUs and maxBucketsPerInterval say") {
    import spark.implicits._
    // 720 one-hour buckets against a cap of 100: the join has no buckets,
    // so both parameters are ignored
    val r = Seq((1L, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00")),
      (2L, 11L, ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00")))
      .toDF("k", "win_id", "w_start", "w_end")
    val l = Seq(
      (1L, 100L, ts("2024-01-01 00:00:00")), // == start: in
      (1L, 101L, ts("2024-01-17 05:30:00")), // deep inside: in
      (1L, 102L, ts("2024-01-31 00:00:00")), // == end: out
      (2L, 103L, ts("2023-12-31 23:59:59")), // before: out
      (3L, 104L, ts("2024-01-10 00:00:00"))  // no interval of its key: out
    ).toDF("k", "ev_id", "t")
    val got = TemporalJoins.rangeJoin(l, r, Seq("k"), "t", "w_start", "w_end",
        bucketUs = 3600L * 1000000, maxBucketsPerInterval = 100)
      .select("ev_id", "win_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    // brute force over the same rows
    val brute = for {
      a <- l.collect().toSeq; b <- r.collect().toSeq
      if a.getLong(0) == b.getLong(0) && !a.getTimestamp(2).before(b.getTimestamp(2)) &&
        a.getTimestamp(2).before(b.getTimestamp(3))
    } yield (a.getLong(1), b.getLong(1))
    assert(got.toSeq.sorted === brute.sorted)
    assert(brute.sorted === Seq((100L, 10L), (101L, 10L)))
  }

  test("overlapJoin: half-open overlap, shared-bucket dedup, key separation") {
    import spark.implicits._
    val hour = 3600L * 1000000
    val l = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
      (1L, 11L, ts("2024-01-01 13:00:00"), ts("2024-01-01 14:00:00")),
      (2L, 12L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))
    ).toDF("k", "lid", "l_start", "l_end")
    val r = Seq(
      (1L, 20L, ts("2024-01-01 11:00:00"), ts("2024-01-01 15:00:00")), // overlaps 10 (and 11)
      (1L, 21L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:30:00")), // touches 10's end: NO overlap
      (1L, 22L, ts("2024-01-01 01:00:00"), ts("2024-01-01 23:00:00"))  // 22-bucket span: overlaps both
    ).toDF("k", "rid", "r_start", "r_end")
    val out = TemporalJoins.overlapJoin(l, r, Seq("k"),
      "l_start", "l_end", "r_start", "r_end", bucketUs = hour)
    val pairs = out.select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    // no duplicates despite many shared buckets
    assert(pairs.length == pairs.distinct.length, s"duplicated pairs: ${pairs.toSeq}")
    assert(pairs.toSet == Set((10L, 20L), (11L, 20L), (10L, 22L), (11L, 22L)),
      s"got ${pairs.toSet}")
    // no keys: a keyless overlap join is refused, not run
    intercept[IllegalArgumentException] {
      TemporalJoins.overlapJoin(l, r, Nil,
        "l_start", "l_end", "r_start", "r_end", bucketUs = hour)
    }
  }

  test("sessionize: new session strictly beyond gap; tie-break total order") {
    import spark.implicits._
    val gap = 600L * 1000000 // 10 min
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L), // gap == 10min: SAME session (strict >)
      (1L, ts("2024-01-01 10:20:01"), 3L), // 10min 1s: new session
      (2L, ts("2024-01-01 10:00:00"), 4L)
    ).toDF("k", "t", "eid")
    val out = TemporalJoins.sessionize(df, Seq("k"), "t", gap, tieBreak = Seq("eid"))
    val m = out.collect().map(r => r.getAs[Long]("eid") -> r.getAs[Long]("session_id")).toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 2L && m(4L) == 1L)
  }
}
