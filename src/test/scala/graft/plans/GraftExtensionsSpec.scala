package graft.plans

import graft.TestSpark
import graft.ops.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL registration tier must expose exactly the native expressions
  * the Column API uses — same builders on both paths — so a
  * `spark.sql(...)` user gets bit-identical keys/similarities/draws. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    s
  }

  test("graft_fnv64 in SQL is bit-identical to the Column API and kernel") {
    import spark.implicits._
    Seq("", "a", "hello world", "Café ümlaut", "x" * 200).toDF("t")
      .createOrReplaceTempView("fnv_in")
    val rows = spark.sql(
      "SELECT t, graft_fnv64(t) AS h FROM fnv_in").collect()
    rows.foreach(r =>
      assert(r.getLong(1) == TextOps.fnv64(r.getString(0))))
    // null quirk survives the SQL path
    val nh = spark.sql("SELECT graft_fnv64(CAST(NULL AS STRING)) AS h")
      .collect()(0).getLong(0)
    assert(nh == Fnv64.NullHash)
  }

  test("graft_stable_uniform matches the Column API draw") {
    import spark.implicits._
    Seq("doc-1", "doc-2", "doc-3").toDF("t").createOrReplaceTempView("su_in")
    val viaSql = spark.sql(
      "SELECT t, graft_stable_uniform(t) AS u FROM su_in")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaCol = spark.table("su_in")
      .select(col("t"), StableUniformExpr(col("t")).as("u"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaCol)
    viaSql.values.foreach(u => assert(u >= 0.0 && u < 1.0))
  }

  test("graft_cosine_sim matches the Column API on array<double> pairs") {
    import spark.implicits._
    Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
        (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
        (Array(0.5, -0.25, 4.0), Array(-1.0, 2.0, 0.125)))
      .toDF("a", "b").createOrReplaceTempView("cos_in")
    val viaSql = spark.sql(
      "SELECT graft_cosine_sim(a, b) AS c FROM cos_in ORDER BY c")
      .collect().map(_.getDouble(0))
    val viaCol = spark.table("cos_in")
      .select(CosineSim(col("a"), col("b")).as("c")).orderBy("c")
      .collect().map(_.getDouble(0))
    assert(viaSql.sameElements(viaCol))
    assert(math.abs(viaSql.last - 1.0) < 1e-12) // identical vectors
  }

  test("graft_minhash_sig takes foldable int params and matches the API") {
    import spark.implicits._
    Seq("the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs")
      .toDF("t").createOrReplaceTempView("mh_in")
    val viaSql = spark.sql(
      "SELECT t, graft_minhash_sig(t, 5, 16, 42) AS sig FROM mh_in")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaCol = spark.table("mh_in")
      .select(col("t"), MinhashSigExpr(col("t"), 5, 16, 42).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == viaCol)
    viaSql.values.foreach(sig => assert(sig.size == 16))
    // a foldable arithmetic parameter is honored like a literal
    val folded = spark.sql(
      "SELECT graft_minhash_sig(t, 5, 8 + 8, 42) AS sig FROM mh_in LIMIT 1")
      .collect()(0).getSeq[Long](0)
    assert(folded.size == 16)
  }

  test("graft_simhash matches the Column API signature bit-for-bit") {
    import spark.implicits._
    Seq("the quick brown fox", "the quick brown fox", "different text", "")
      .toDF("t").createOrReplaceTempView("sh_in")
    val viaSql = spark.sql("SELECT t, graft_simhash(t) AS s FROM sh_in")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaCol = spark.table("sh_in")
      .select(col("t"), SimhashExpr(col("t")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
    // null text and empty text share the offset-basis sign pattern
    val nullSig = spark.sql("SELECT graft_simhash(CAST(NULL AS STRING)) AS s")
      .collect()(0).getLong(0)
    assert(nullSig == viaSql(""))
  }

  test("graft_char_class_counts matches the Column API") {
    import spark.implicits._
    Seq("Hello, World! 123", "ümlaut Ω 😀", "")
      .toDF("t").createOrReplaceTempView("cc_in")
    val viaSql = spark.sql(
      "SELECT t, graft_char_class_counts(t) AS c FROM cc_in")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaCol = spark.table("cc_in")
      .select(col("t"), CharClassCounts(col("t")).as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == viaCol)
    assert(viaSql("Hello, World! 123") == Seq(2L, 3L, 2L, 2L))
    val nullOut = spark.sql(
      "SELECT graft_char_class_counts(CAST(NULL AS STRING)) AS c")
      .collect()(0).isNullAt(0)
    assert(nullOut)
  }

  test("graft_kn_bigrams packs the shared walk losslessly") {
    import spark.implicits._
    Seq("alpha beta gamma alpha").toDF("t").createOrReplaceTempView("kb_in")
    val packed = spark.sql(
      "SELECT graft_kn_bigrams(t, 64) AS p FROM kb_in")
      .collect()(0).getSeq[Long](0)
    val walk = TextOps.knBigramWalk("alpha beta gamma alpha", 64)
    assert(packed.length == walk.length)
    walk.zip(packed).foreach { case ((bv, bw), p) =>
      assert(p == bv.toLong * 64 + bw)
    }
  }

  test("arity and parameter errors fail loudly at analysis") {
    val e1 = intercept[Exception](
      spark.sql("SELECT graft_fnv64('a', 'b')").collect())
    assert(e1.getMessage.contains("graft_fnv64"))
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_minhash_sig('a', rand(), 16, 42)").collect())
    assert(e2.getMessage.toLowerCase.contains("foldable"))
  }

  test("graft_asof TVF equals the Scala API on every argument form") {
    import spark.implicits._
    graft.plans.GraftPlanning.ensure(spark)
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 150L, "c"))
      .toDF("uid", "t", "tag")
    val r = Seq((1L, 90L, 1.0), (1L, 100L, 2.0), (1L, 180L, 3.0),
      (2L, 250L, 4.0)).toDF("uid", "t", "price")
    l.createOrReplaceTempView("asof_tvf_l")
    r.createOrReplaceTempView("asof_tvf_r")
    def viaSql(extra: String): Set[Seq[Any]] =
      spark.sql("SELECT uid, t, tag, price FROM graft_asof(" +
          s"'asof_tvf_l', 'asof_tvf_r', 'uid', 't', 't', 'price'$extra)")
        .collect().map(_.toSeq).toSet
    def viaApi(dir: String, tol: Option[Long], exact: Boolean): Set[Seq[Any]] =
      graft.ops.TemporalJoins.asofJoinNative(l, r, Seq("uid"), "t", "t",
          Seq("price"), direction = dir, toleranceUs = tol,
          allowExactMatches = exact)
        .select("uid", "t", "tag", "price").collect().map(_.toSeq).toSet
    assert(viaSql("") === viaApi("backward", None, exact = true))
    assert(viaSql(", 'forward'") === viaApi("forward", None, exact = true))
    assert(viaSql(", 'nearest', 30") ===
      viaApi("nearest", Some(30L), exact = true))
    assert(viaSql(", 'backward', 1000, false") ===
      viaApi("backward", Some(1000L), exact = false))
  }

  test("graft_range_join TVF equals the Scala API") {
    import spark.implicits._
    graft.plans.GraftPlanning.ensure(spark)
    // (1, 20) sits exactly on w1's END boundary: excluded under the
    // default [s, e), included with inclusive_end = true
    val l = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (1L, 20L, "e4"),
      (2L, 5L, "e3")).toDF("uid", "t", "ev")
    val r = Seq((1L, 0L, 20L, "w1"), (1L, 20L, 30L, "w2"), (2L, 50L, 60L, "w3"))
      .toDF("uid", "s", "e", "w")
    l.createOrReplaceTempView("range_tvf_l")
    r.createOrReplaceTempView("range_tvf_r")
    val viaSql = spark.sql(
      """SELECT uid, t, ev, w FROM graft_range_join(
        |  'range_tvf_l', 'range_tvf_r', 'uid', 't', 's', 'e')""".stripMargin)
      .collect().map(_.toSeq).toSet
    val viaApi = graft.ops.TemporalJoins.rangeJoinNative(
        l, r, Seq("uid"), "t", "s", "e")
      .select("uid", "t", "ev", "w").collect().map(_.toSeq).toSet
    assert(viaSql === viaApi)
    assert(viaSql.nonEmpty)
    // inclusive_end flips the boundary row in both front doors alike
    val incSql = spark.sql(
      """SELECT uid, t, ev, w FROM graft_range_join(
        |  'range_tvf_l', 'range_tvf_r', 'uid', 't', 's', 'e', true)"""
        .stripMargin).collect().map(_.toSeq).toSet
    val incApi = graft.ops.TemporalJoins.rangeJoinNative(
        l, r, Seq("uid"), "t", "s", "e", inclusiveEnd = true)
      .select("uid", "t", "ev", "w").collect().map(_.toSeq).toSet
    assert(incSql === incApi && incSql.size > viaSql.size)
  }

  test("graft_sessionize TVF equals the Scala API") {
    import spark.implicits._
    val p = Seq((1L, 0L, 10.0), (1L, 100L, 11.0), (1L, 5000L, 12.0),
      (2L, 0L, 20.0), (2L, 9000L, 21.0))
      .toDF("uid", "__us", "v")
      .withColumn("t", timestamp_micros(col("__us"))).drop("__us")
    p.createOrReplaceTempView("sess_tvf_in")
    val viaSql = spark.sql(
      "SELECT uid, t, v, session_id FROM graft_sessionize(" +
        "'sess_tvf_in', 'uid', 't', 1000)")
      .collect().map(_.toSeq).toSet
    val viaApi = graft.ops.TemporalJoins.sessionize(p, Seq("uid"), "t",
        gapUs = 1000L)
      .select("uid", "t", "v", "session_id").collect().map(_.toSeq).toSet
    assert(viaSql === viaApi)
    // gap semantics visible through the SQL door: 3 sessions for uid 1+2
    val sess = spark.sql(
      "SELECT uid, session_id FROM graft_sessionize(" +
        "'sess_tvf_in', 'uid', 't', 1000) GROUP BY uid, session_id")
      .count()
    assert(sess === 4) // uid1: {0,100} + {5000}; uid2: {0} + {9000}
  }

  test("graft_overlap_join TVF equals the Scala API") {
    import spark.implicits._
    def win(rows: Seq[(Long, Long, Long, Long)]) = rows
      .toDF("uid", "id", "__s", "__e")
      .withColumn("ws", timestamp_micros(col("__s")))
      .withColumn("we", timestamp_micros(col("__e")))
      .drop("__s", "__e")
    val l = win(Seq((1L, 1L, 0L, 100L), (1L, 2L, 50L, 150L),
      (2L, 3L, 0L, 10L)))
    val r = win(Seq((1L, 10L, 90L, 120L), (1L, 11L, 200L, 300L),
      (2L, 12L, 5L, 8L)))
    l.createOrReplaceTempView("ov_tvf_l")
    r.createOrReplaceTempView("ov_tvf_r")
    val viaSql = spark.sql(
      "SELECT uid, id, id_right FROM graft_overlap_join('ov_tvf_l', " +
        "'ov_tvf_r', 'uid', 'ws', 'we', 'ws', 'we')")
      .collect().map(_.toSeq).toSet
    val viaApi = graft.ops.TemporalJoins.overlapJoinNative(l, r, Seq("uid"),
        "ws", "we", "ws", "we")
      .select("uid", "id", "id_right").collect().map(_.toSeq).toSet
    assert(viaSql === viaApi)
    assert(viaSql === Set(Seq(1L, 1L, 10L), Seq(1L, 2L, 10L),
      Seq(2L, 3L, 12L)))
  }

  test("graft_pit_join TVF chains two steps like pointInTimeJoin") {
    import spark.implicits._
    val spine = Seq((1L, 100L), (1L, 200L)).toDF("uid", "__us")
      .withColumn("t", timestamp_micros(col("__us"))).drop("__us")
    val f1 = Seq((1L, 90L, 1.5), (1L, 150L, 2.5)).toDF("uid", "__us", "a")
      .withColumn("t", timestamp_micros(col("__us"))).drop("__us")
    val f2 = Seq((1L, 50L, 9.0)).toDF("uid", "__us", "b")
      .withColumn("t", timestamp_micros(col("__us"))).drop("__us")
    spine.createOrReplaceTempView("pit_tvf_spine")
    f1.createOrReplaceTempView("pit_tvf_f1")
    f2.createOrReplaceTempView("pit_tvf_f2")
    spark.sql("SELECT * FROM graft_pit_join('pit_tvf_spine', 'pit_tvf_f1', " +
        "'uid', 't', 't', 'a')")
      .createOrReplaceTempView("pit_tvf_s1")
    val viaSql = spark.sql(
      "SELECT * FROM graft_pit_join('pit_tvf_s1', 'pit_tvf_f2', " +
        "'uid', 't', 't', 'b', NULL, 1)")
      .select("uid", "t", "a", "b").collect().map(_.toSeq).toSet
    val viaApi = graft.ops.TemporalJoins.pointInTimeJoin(spine, Seq("uid"),
        "t", Seq((f1, "t", Seq("a"), None), (f2, "t", Seq("b"), None)))
      .select("uid", "t", "a", "b").collect().map(_.toSeq).toSet
    assert(viaSql === viaApi)
    assert(viaApi.map(s => (s(2), s(3))) ===
      Set((1.5, 9.0), (2.5, 9.0))) // latest at-or-before per step
  }

  test("graft_group_dynamic TVF equals the Scala API") {
    import spark.implicits._
    val p = Seq((1L, 0L, 1.0), (1L, 60L * 1000000L, 3.0),
      (2L, 30L * 1000000L, 5.0))
      .toDF("uid", "__us", "v")
      .withColumn("t", timestamp_micros(col("__us"))).drop("__us")
    p.createOrReplaceTempView("gd_tvf_in")
    implicit val pc: graft.core.PanelCols = graft.core.PanelCols("uid", "t", "v")
    val viaSql = spark.sql(
      "SELECT uid, t, v, n_obs FROM graft_group_dynamic('gd_tvf_in', " +
        "'uid', 't', 'v', '30 seconds', '1 minute')")
      .collect().map(_.toSeq).toSet
    val viaApi = graft.ops.Resample.groupByDynamic(p,
        every = "30 seconds", period = "1 minute")
      .select("uid", "t", "v", "n_obs").collect().map(_.toSeq).toSet
    assert(viaSql === viaApi)
  }

  test("TVF argument errors fail loud at analysis") {
    import spark.implicits._
    Seq((1L, 1L)).toDF("k", "t").createOrReplaceTempView("tvf_err_l")
    Seq((1L, 1L, 9L, "v")).toDF("k", "t", "s", "v")
      .createOrReplaceTempView("tvf_err_r")
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM graft_asof('tvf_err_l', 'tvf_err_r')")
        .collect())
    assert(e1.getMessage.contains("graft_asof"))
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_range_join(" +
        "'tvf_err_l','tvf_err_r','k','t','t','s','x')").collect())
    assert(e2.getMessage.toLowerCase.contains("boolean"))
    val e3 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof('no_such_view_xyz','tvf_err_r','k','t','t','v')")
      .collect())
    assert(e3.getMessage.toLowerCase.contains("no_such_view_xyz"))
  }

  test("session built WITH the extensions class resolves the functions") {
    // reuse the shared SparkContext but force a genuinely NEW session:
    // BOTH the active and the default session must be cleared, or
    // getOrCreate silently returns the existing one and ignores
    // withExtensions — leaving the injectFunction path untested
    val shared = TestSpark.spark // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(!(fresh eq shared),
        "getOrCreate returned the shared session; extensions not applied")
      val h = fresh.sql("SELECT graft_fnv64('abc') AS h")
        .collect()(0).getLong(0)
      assert(h == TextOps.fnv64("abc"))
      // the whole-operator tier rides the same extensions class: the
      // fresh session's planner already carries GraftStrategy without
      // any GraftPlanning.ensure call
      assert(org.apache.spark.sql.GraftPlanBridge.plannerStrategies(fresh)
          .contains(GraftStrategy),
        "withExtensions did not inject the planner strategy")
      // and the TVF front door resolves through injectTableFunction
      import fresh.implicits._
      Seq((1L, 10L), (1L, 20L)).toDF("k", "t")
        .createOrReplaceTempView("tvf_l")
      Seq((1L, 5L, "x"), (1L, 15L, "y")).toDF("k", "t", "v")
        .createOrReplaceTempView("tvf_r")
      val asof = fresh.sql(
        "SELECT k, t, v FROM graft_asof('tvf_l', 'tvf_r', 'k', 't', 't', 'v')")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(asof === Set((1L, 10L, "x"), (1L, 20L, "y")))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
