package graft.plans

import graft.TestSpark
import graft.ops.TemporalJoins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The whole-operator tier's contract: [[AsofJoinExec]] equals the
  * as-of join composed on the driver from its definition (`composed`
  * below) on every direction × tolerance × exact-match combination
  * (randomized data, unambiguous by construction), the physical plan is
  * the merge shape
  * (AsofJoinExec present, no WindowExec, per-side sorts), the strict
  * mode's two-slot history survives an equal-timestamp probe, and
  * [[PushFilterThroughAsofJoin]] moves left-only filters below the
  * node. */
class AsofJoinNativeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Random but unambiguous fixture: right side deduped per (key, ts)
    * so every engine picks the same match. */
  private lazy val (lRand, rRand): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val base = ts("2024-01-01 00:00:00").getTime
    // every ~13th row gets a NULL key: the window carry groups null
    // keys together, so the merge ordering must treat null = null too
    val l = (1 to 300).map { i =>
      val k: java.lang.Long =
        if (i % 13 == 0) null else (rng.nextInt(5) + 1).toLong
      val t =
        if (i % 37 == 0) null
        else new Timestamp(base + rng.nextInt(100000) * 1000L)
      (k, t, i.toLong)
    }.toDF("k", "t", "lid")
    val r0 = (1 to 300).map { i =>
      val k: java.lang.Long =
        if (i % 17 == 0) null else (rng.nextInt(5) + 1).toLong
      val t =
        if (i % 41 == 0) null
        else new Timestamp(base + rng.nextInt(100000) * 1000L)
      val v: java.lang.Double = if (i % 23 == 0) null else rng.nextDouble()
      (k, t, v)
    }.toDF("k", "t", "rv")
    val r = r0.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k", "t").orderBy(desc_nulls_last("rv"))))
      .filter(col("__rn") === 1).drop("__rn")
    (l.cache(), r.cache())
  }

  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** The as-of join composed on the driver from its definition — the
    * reference the native merge is checked against. Per left row: the
    * right rows of the same key (null = null, as a window partition
    * groups them) with a non-null time; backward takes the latest
    * at-or-before (strictly before when `exact` is false), forward the
    * earliest at-or-after, nearest the closer of the two (a distance tie
    * goes backward); a pick farther than `tolUs` is dropped; a null left
    * time never matches. Returns left id → (matched time, carried
    * value). Unlike TemporalJoinsPropertySpec's reference it takes the
    * nullable keys and times of this fixture. */
  private def composed(l: DataFrame, r: DataFrame, dir: String = "backward",
      exact: Boolean = true, tolUs: Option[Long] = None, id: String = "lid",
      value: String = "rv"): Map[Long, (Option[Timestamp], Option[Any])] = {
    val rs = r.select("k", "t", value).collect().filter(!_.isNullAt(1))
      .map(x => (Option(x.get(0)), micros(x.getAs[Timestamp](1)),
        x.getAs[Timestamp](1), Option(x.get(2))))
    l.select("k", "t", id).collect().map { x =>
      val pick = if (x.isNullAt(1)) None else {
        val lt = micros(x.getAs[Timestamp](1))
        val same = rs.filter(_._1 == Option(x.get(0)))
        val back = same.filter(c => if (exact) c._2 <= lt else c._2 < lt)
          .maxByOption(_._2)
        val fwd = same.filter(c => if (exact) c._2 >= lt else c._2 > lt)
          .minByOption(_._2)
        (dir match {
          case "backward" => back
          case "forward" => fwd
          case _ => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (lt - b._2 <= f._2 - lt) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }).filter(c => tolUs.forall(t => math.abs(lt - c._2) <= t))
      }
      x.getLong(2) -> (pick.map(_._3), pick.flatMap(_._4))
    }.toMap
  }

  /** A native result in [[composed]]'s shape. */
  private def matched(df: DataFrame, id: String = "lid", time: String = "asof_ts",
      value: String = "rv"): Map[Long, (Option[Timestamp], Option[Any])] =
    df.select(id, time, value).collect().map(x => x.getLong(0) ->
      (Option(x.getAs[Timestamp](1)), Option(x.get(2)))).toMap

  for {
    dir <- Seq("backward", "forward", "nearest")
    exact <- Seq(true, false)
    tol <- Seq(None, Some(3600L * 1000000L))
  } test(s"native == composed: $dir exact=$exact tol=${tol.isDefined}") {
    val native = TemporalJoins.asofJoinNative(lRand, rRand, Seq("k"), "t",
      "t", Seq("rv"), direction = dir, toleranceUs = tol,
      allowExactMatches = exact)
    val want = composed(lRand, rRand, dir, exact, tol)
    assert(want.size === 300)
    assert(matched(native) === want)
  }

  test("plan shape: AsofJoinExec merge, no WindowExec, per-side sorts") {
    import spark.implicits._
    val l = (1 to 50).map(i => ((i % 5).toLong,
      new Timestamp(1704067200000L + i * 1000L), i.toLong)).toDF("k", "t", "lid")
    val r = (1 to 50).map(i => ((i % 5).toLong,
      new Timestamp(1704067200000L + i * 1700L), i * 1.0)).toDF("k", "t", "rv")
    val df = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv"))
    df.collect() // finalize any adaptive planning before inspecting
    // AdaptiveSparkPlanExec hides query-stage subtrees from collect, so
    // pin the shape on the final-plan string (AsofJoinExec renders as
    // its nodeName "AsofJoin")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("AsofJoin"), s)
    assert(!s.contains("Window"), "native asof must not fall back to a window")
    assert(s.contains("Sort"), "EnsureRequirements must add the per-side sorts")
    assert(s.contains("Exchange"), "per-side hash exchanges expected")
  }

  test("strict backward falls back past an equal-timestamp right row") {
    import spark.implicits._
    // rt = 5s and 7s; probe lt = 7s strict must match 5s (the retained
    // newest row is invalid at its own timestamp), lt = 8s must match 7s
    val l = Seq((1L, ts("2024-01-01 00:00:07"), "a"),
      (1L, ts("2024-01-01 00:00:08"), "b")).toDF("k", "t", "lv")
    val r = Seq((1L, ts("2024-01-01 00:00:05"), 5.0),
      (1L, ts("2024-01-01 00:00:07"), 7.0)).toDF("k", "t", "rv")
    val out = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
        Seq("rv"), allowExactMatches = false)
      .collect().map(x => x.getAs[String]("lv") -> x.getAs[Double]("rv")).toMap
    assert(out === Map("a" -> 5.0, "b" -> 7.0))
  }

  test("null right VALUE still matches; null left time stays unmatched") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 00:00:10"), "a"),
      (1L, null.asInstanceOf[Timestamp], "n")).toDF("k", "t", "lv")
    val r = Seq((1L, ts("2024-01-01 00:00:09"),
      null.asInstanceOf[java.lang.Double])).toDF("k", "t", "rv")
    val out = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"))
      .collect().map(x => x.getAs[String]("lv") ->
        (Option(x.getAs[Timestamp]("asof_ts")), Option(x.getAs[java.lang.Double]("rv"))))
      .toMap
    assert(out("a") === (Some(ts("2024-01-01 00:00:09")), None),
      "a matches the right row; its null value is carried as null")
    assert(out("n") === (None, None))
  }

  test("PushFilterThroughAsofJoin pushes left-only filters below the node") {
    val joined = TemporalJoins.asofJoinNative(lRand, rRand, Seq("k"), "t",
      "t", Seq("rv"))
    val filtered = joined.filter(col("lid") < 100)
    val opt = filtered.queryExecution.optimizedPlan
    // after pushdown the AsofJoin node's left subtree contains the
    // lid-filter; nothing referencing lid remains above the node
    val aj = opt.collectFirst { case a: AsofJoin => a }
    assert(aj.isDefined, opt.toString)
    val leftHasFilter = aj.get.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "lid") => f
    }.isDefined
    assert(leftHasFilter, s"lid filter not pushed into the left child:\n$opt")
    // and a carry-column filter must NOT be pushed (rv is produced by the join)
    val kept = joined.filter(col("rv") > 0.5).queryExecution.optimizedPlan
    val aj2 = kept.collectFirst { case a: AsofJoin => a }
    assert(aj2.isDefined)
    val rvPushed = aj2.get.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "rv") => f
    }.isDefined
    assert(!rvPushed, "carry-column filter must stay above the join")
  }

  test("PruneAsofJoinColumns drops unused columns below both exchanges") {
    import spark.implicits._
    val l = (1 to 40).map(i => ((i % 4).toLong,
      new Timestamp(1704067200000L + i * 1000L), i.toLong, s"w$i", i * 2.0))
      .toDF("k", "t", "lid", "wide_l", "extra_l")
    val r = (1 to 40).map(i => ((i % 4).toLong,
      new Timestamp(1704067200000L + i * 1300L), i * 1.0, s"v$i"))
      .toDF("k", "t", "rv", "wide_r")
    val joined = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv", "wide_r"))
    // narrow projection: wide_l/extra_l/wide_r unused
    val narrow = joined.select("k", "lid", "rv")
    val aj = narrow.queryExecution.optimizedPlan
      .collectFirst { case a: AsofJoin => a }.get
    assert(!aj.left.output.exists(a =>
      a.name == "wide_l" || a.name == "extra_l"),
      s"unused left columns not pruned:\n${narrow.queryExecution.optimizedPlan}")
    assert(!aj.carryAttrs.exists(_.name == "wide_r"),
      "unused carry not pruned from the node")
    assert(!aj.right.output.exists(_.name == "wide_r"),
      "unused carry's source not pruned from the right child")
    // keys/time survive pruning even though the projection drops them
    assert(aj.left.output.exists(_.name == "__ltu"))
    assert(aj.right.output.exists(_.name == "__rtu"))
    // and the values are unchanged by the rewrite
    assert(narrow.collect().map(x => x.getLong(1) -> Option(x.get(2))).toMap ===
      composed(l, r).map { case (id, (_, v)) => id -> v })
  }

  test("pruning fires through the residual Filter the pushdown leaves") {
    import spark.implicits._
    val l = (1 to 40).map(i => ((i % 4).toLong,
      new Timestamp(1704067200000L + i * 1000L), i.toLong, s"w$i"))
      .toDF("k", "t", "lid", "wide_l")
    val r = (1 to 40).map(i => ((i % 4).toLong,
      new Timestamp(1704067200000L + i * 1300L), i * 1.0, s"v$i"))
      .toDF("k", "t", "rv", "wide_r")
    val joined = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("rv", "wide_r"))
    // rv is a carry column, so the filter stays ABOVE the join as a
    // residual — exactly the shape that used to block pruning
    val narrow = joined.filter(col("rv") > 0.5).select("k", "lid", "rv")
    val opt = narrow.queryExecution.optimizedPlan
    val aj = opt.collectFirst { case a: AsofJoin => a }.get
    assert(!aj.left.output.exists(_.name == "wide_l"),
      s"unused left column not pruned through the residual Filter:\n$opt")
    assert(!aj.carryAttrs.exists(_.name == "wide_r"),
      "unused carry not pruned through the residual Filter")
    val expected = composed(l, r).collect {
      case (id, (_, Some(v: Double))) if v > 0.5 => id -> Option[Any](v)
    }
    assert(narrow.collect().map(x => x.getLong(1) -> Option(x.get(2))).toMap ===
      expected)
  }

  test("matchedTime / duplicate rightCols collisions fail loudly") {
    import spark.implicits._
    val l = (1 to 10).map(i => (1L,
      new Timestamp(1704067200000L + i * 1000L), i.toLong)).toDF("k", "t", "lid")
    val r = (1 to 10).map(i => (1L,
      new Timestamp(1704067200000L + i * 1000L), i * 1.0)).toDF("k", "t", "rv")
    val e1 = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"),
        matchedTime = "lid")
    }
    assert(e1.getMessage.contains("matchedTime"))
    // case-insensitive resolution: `LID` collides with left `lid`
    val e2 = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"),
        matchedTime = "LID")
    }
    assert(e2.getMessage.contains("matchedTime"))
    val e3 = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv", "rv"))
    }
    assert(e3.getMessage.contains("duplicate"))
  }

  test("case-differing right column still gets the _right rename") {
    import spark.implicits._
    val l = (1 to 10).map(i => (1L,
      new Timestamp(1704067200000L + i * 1000L), i * 1.0))
      .toDF("k", "t", "Val")
    val r = (1 to 10).map(i => (1L,
      new Timestamp(1704067200000L + i * 1000L), i * 2.0))
      .toDF("k", "t", "val")
    // asofJoin: right `val` must be renamed val_right (resolution is
    // case-insensitive by default, so left Val vs right val IS ambiguous)
    val out = TemporalJoins.asofJoin(l, r, Seq("k"), "t", "t", Seq("val"))
    assert(out.columns.contains("val_right"), out.columns.mkString(","))
    assert(out.select(col("Val"), col("val_right")).count() === 10)
  }

  test("native point-in-time join: one spine exchange across chained steps") {
    import spark.implicits._
    val spine = (1 to 60).map(i => ((i % 6).toLong,
      new Timestamp(1704067200000L + i * 1000L), i.toLong)).toDF("k", "t", "sid")
    val f1 = (1 to 60).map(i => ((i % 6).toLong,
      new Timestamp(1704067200000L + i * 1100L), i * 1.0)).toDF("k", "t", "f1")
    val f2 = (1 to 60).map(i => ((i % 6).toLong,
      new Timestamp(1704067200000L + i * 900L), i * 2.0)).toDF("k", "t", "f2")
    val feats = Seq((f1, "t", Seq("f1"), None), (f2, "t", Seq("f2"), None))
    val native = TemporalJoins.pointInTimeJoin(spine, Seq("k"), "t", feats)
    native.collect()
    // AQE's string repeats the tree under "== Initial Plan ==" — count
    // only the final plan section
    val s = native.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(exchanges === 3, // spine once + one per feature table, never 4+
      s"expected 3 exchanges (spine + 2 features), got $exchanges:\n$s")
    // each step equals the driver-side as-of of the spine on that table
    val steps = Seq((f1, "f1", "asof_ts_0"), (f2, "f2", "asof_ts_1"))
    steps.foreach { case (f, v, ts) =>
      assert(matched(native, "sid", ts, v) ===
        composed(spine, f, id = "sid", value = v))
    }
  }

  test("mixed-width keys coerce to the common type (int left, long right)") {
    import spark.implicits._
    val l = Seq((5, ts("2024-01-01 10:00:00"), "a"),
      (7, ts("2024-01-01 10:00:00"), "b")).toDF("k", "t", "lv")
    val r = Seq((5L, ts("2024-01-01 09:00:00"), 1.0),
      (7L, ts("2024-01-01 09:30:00"), 2.0)).toDF("k", "t", "rv")
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"))
      .collect().map(x => x.getAs[String]("lv") ->
        Option(x.getAs[java.lang.Double]("rv")).map(_.doubleValue)).toMap
    assert(native === Map("a" -> Some(1.0), "b" -> Some(2.0)),
      "int-vs-long keys must hash/compare on the coerced common type")
  }

  test("floating keys normalize -0.0 = 0.0 like a window partition key") {
    import spark.implicits._
    val l = Seq((-0.0, ts("2024-01-01 10:00:00"), "a")).toDF("k", "t", "lv")
    val r = Seq((0.0, ts("2024-01-01 09:00:00"), 1.0)).toDF("k", "t", "rv")
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"))
    assert(native.collect()(0).getAs[java.lang.Double]("rv") === 1.0,
      "-0.0 and 0.0 keys must land in one group")
  }

  test("case-insensitive name resolution under the default session conf") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"), "a")).toDF("uid", "ts", "lv")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 1.0)).toDF("uid", "ts", "rv")
    val out = TemporalJoins.asofJoinNative(l, r, Seq("UID"), "TS", "Ts",
      Seq("RV"))
    assert(out.collect()(0).getAs[java.lang.Double]("rv") === 1.0)
  }

  test("rightCols may carry a by-key-named column (renamed _right)") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"), "a")).toDF("k", "t", "lv")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 1.0)).toDF("k", "t", "rv")
    val native = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t",
      Seq("k", "rv"))
    assert(native.columns.contains("k_right"))
    val row = native.collect().toSeq
    assert(row.map(x => (x.getAs[Long]("k"), x.getAs[Long]("k_right"),
      x.getAs[Double]("rv"))) === Seq((1L, 1L, 1.0)))
  }

  test("merge output equals composed on the documented doc example") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 12:00:00"), "b"),
      (2L, ts("2024-01-01 09:00:00"), "c"),
      (3L, ts("2024-01-01 10:00:00"), "d")).toDF("k", "t", "lv")
    val r = Seq((1L, ts("2024-01-01 09:30:00"), 1.0),
      (1L, ts("2024-01-01 10:00:00"), 2.0),
      (1L, ts("2024-01-01 11:00:00"), 3.0),
      (2L, ts("2024-01-01 09:30:00"), 4.0)).toDF("k", "t", "rv")
    val out = TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"))
      .collect().map(x => x.getAs[String]("lv") ->
        Option(x.getAs[java.lang.Double]("rv")).map(_.doubleValue)).toMap
    assert(out === Map("a" -> Some(2.0), "b" -> Some(3.0), "c" -> None,
      "d" -> None))
  }
}
