package graft.plans

import org.apache.spark.sql.{GraftRegistryBridge, SparkSession, SparkSessionExtensions,
  SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's native Catalyst expressions.
  *
  * The expression tier ([[Fnv64]], [[CosineSim]], [[StableUniformExpr]],
  * [[MinhashSigExpr]]) is what keeps the hot key/similarity/sampling
  * paths inside whole-stage codegen; this registers the same expressions
  * as SQL functions so a `spark.sql(...)` user gets them too — the
  * idiomatic Spark extension route. Every session built with graft on
  * the classpath loads this class through the
  * `SparkSessionExtensionsProvider` ServiceLoader entry in
  * `META-INF/services` (`spark.sql.extensions=graft.plans.GraftExtensions`
  * does the same explicitly); [[GraftFunctions.register]] covers a live
  * session built before. Both paths share one description list, so they
  * cannot drift.
  *
  * Registered functions:
  *   - `graft_fnv64(text)` → bigint — deterministic FNV-1a 64 fingerprint
  *     (null → offset basis, never null out; the engine's dedup/shard/
  *     sampling key contract).
  *   - `graft_stable_uniform(text)` → double — fingerprint-seeded U[0,1)
  *     (stable sampling draw; null propagates).
  *   - `graft_cosine_sim(a, b)` → double — cosine over two array<double>
  *     columns, in-place ArrayData walk.
  *   - `graft_minhash_sig(text, n, k, seed)` → array<bigint> — k-minhash
  *     signature over n-char shingles; n/k/seed must be foldable ints.
  *   - `graft_simhash(text)` → bigint — 64-bit SimHash over normalized
  *     whitespace tokens (null → empty-text sign pattern, never null).
  *   - `graft_kn_bigrams(text, buckets)` → array<bigint> — adjacent
  *     word-bucket bigram pairs packed as bv·buckets+bw (buckets a
  *     foldable int).
  *
  * Registered TABLE functions (FROM-clause TVFs — the whole-operator
  * SQL front door; arguments are literals, table args are view/table
  * names resolved through the session catalog):
  *   - `graft_asof(left, right, by_csv, left_time, right_time,
  *     carry_csv[, direction[, tolerance_us[, allow_exact]]])` — the
  *     native [[AsofJoin]] sort-merge operator.
  *   - `graft_range_join(left, right, by_csv, left_time, start_col,
  *     end_col[, inclusive_end])` — the native [[IntervalJoin]] sweep.
  *   - `graft_sessionize(table, by_csv, time_col, gap_us[,
  *     tiebreak_csv])` — gap sessionization (adds `session_id`).
  *   - `graft_overlap_join(left, right, by_csv, l_start, l_end,
  *     r_start, r_end)` — interval×interval overlap (two sweeps).
  *   - `graft_pit_join(spine, feature, by_csv, spine_time, feature_time,
  *     cols_csv[, tolerance_us[, step_index]])` — one point-in-time
  *     feature step (chain via temp views; matched time →
  *     `asof_ts_<step_index>`).
  *   - `graft_group_dynamic(table, id_col, time_col, value_col, every,
  *     period[, offset[, agg]])` — sliding dynamic group-by.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    // the whole-operator SQL front door: FROM-clause TVFs building the
    // same analyzed plans as the Scala API (graft_asof, graft_range_join)
    GraftFunctions.tableDescriptions.foreach(ext.injectTableFunction)
    // whole-operator tier: the AsofJoin/IntervalJoin planner strategy
    // (their optimizer rules are registered by the node builders,
    // GraftPlanning.ensure)
    ext.injectPlannerStrategy(_ => GraftStrategy)
    // as-of / interval skew handling at query-stage time, from the
    // materialized shuffle statistics (no live-session path: the AQE
    // rule list is fixed when the session is built)
    ext.injectQueryStagePrepRule(_ => SplitSkewedTemporalJoin)
  }
}

object GraftFunctions {

  /** Registers every graft SQL function into a LIVE session's registry
    * (the path for sessions already built without the extensions conf).
    * Idempotent: re-registration overwrites with identical builders. */
  def register(spark: SparkSession): Unit = {
    val reg = GraftRegistryBridge.functionRegistry(spark)
    descriptions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
    val treg = GraftRegistryBridge.tableFunctionRegistry(spark)
    tableDescriptions.foreach { case (id, info, builder) =>
      treg.registerFunction(id, info, builder)
    }
  }

  private def requireArity(name: String, args: Seq[Expression], n: Int): Unit =
    require(args.size == n,
      s"$name expects $n argument(s), got ${args.size}")

  /** Foldable-int extraction for builder parameters (SQL literals parse
    * as int; a foldable expression like `2+3` is honored too). */
  private def intArg(name: String, pos: Int, e: Expression): Int = {
    require(e.foldable,
      s"$name argument $pos must be a foldable integer, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        require(l.isValidInt, s"$name argument $pos out of int range: $l")
        l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$name argument $pos must be an integer literal, got $other")
    }
  }

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getCanonicalName, null, name, usage, "")

  /** The single source of truth both registration paths share. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      (FunctionIdentifier("graft_fnv64"),
        info(classOf[Fnv64], "graft_fnv64",
          "graft_fnv64(text) - deterministic FNV-1a 64-bit fingerprint " +
            "(null hashes to the offset basis; never returns null)."),
        (args: Seq[Expression]) => {
          requireArity("graft_fnv64", args, 1)
          Fnv64(args.head)
        }),
      (FunctionIdentifier("graft_stable_uniform"),
        info(classOf[StableUniformExpr], "graft_stable_uniform",
          "graft_stable_uniform(text) - fingerprint-seeded uniform " +
            "draw in [0,1) for stable sampling."),
        (args: Seq[Expression]) => {
          requireArity("graft_stable_uniform", args, 1)
          StableUniformExpr(args.head)
        }),
      (FunctionIdentifier("graft_cosine_sim"),
        info(classOf[CosineSim], "graft_cosine_sim",
          "graft_cosine_sim(a, b) - cosine similarity over two " +
            "array<double> columns."),
        (args: Seq[Expression]) => {
          requireArity("graft_cosine_sim", args, 2)
          CosineSim(args.head, args(1))
        }),
      (FunctionIdentifier("graft_minhash_sig"),
        info(classOf[MinhashSigExpr], "graft_minhash_sig",
          "graft_minhash_sig(text, n, k, seed) - k-minhash signature " +
            "over n-char shingles (n, k, seed: foldable ints)."),
        (args: Seq[Expression]) => {
          requireArity("graft_minhash_sig", args, 4)
          MinhashSigExpr(args.head,
            intArg("graft_minhash_sig", 2, args(1)),
            intArg("graft_minhash_sig", 3, args(2)),
            intArg("graft_minhash_sig", 4, args(3)))
        }),
      (FunctionIdentifier("graft_simhash"),
        info(classOf[SimhashExpr], "graft_simhash",
          "graft_simhash(text) - 64-bit SimHash (sign-sum of per-token " +
            "FNV bits over normalized whitespace tokens; never null)."),
        (args: Seq[Expression]) => {
          requireArity("graft_simhash", args, 1)
          SimhashExpr(args.head)
        }),
      (FunctionIdentifier("graft_char_class_counts"),
        info(classOf[CharClassCounts], "graft_char_class_counts",
          "graft_char_class_counts(text) - one-pass array<bigint> of " +
            "[punct, digit, upper, space] ASCII-class counts."),
        (args: Seq[Expression]) => {
          requireArity("graft_char_class_counts", args, 1)
          CharClassCounts(args.head)
        }),
      (FunctionIdentifier("graft_kn_bigrams"),
        info(classOf[KnBigramsExpr], "graft_kn_bigrams",
          "graft_kn_bigrams(text, buckets) - adjacent word-bucket bigram " +
            "pairs, each packed as bv*buckets+bw (buckets: foldable int)."),
        (args: Seq[Expression]) => {
          requireArity("graft_kn_bigrams", args, 2)
          KnBigramsExpr(args.head, intArg("graft_kn_bigrams", 2, args(1)))
        }))

  // ── table-valued functions: the whole-operator SQL front door ──────
  // A pure-`spark.sql` user reaches the native AsofJoin/IntervalJoin
  // plan nodes through a FROM-clause TVF: table arguments are view/
  // table NAMES (resolved through the session catalog at analysis
  // time), list arguments are comma-separated column names, and the
  // result is the SAME analyzed plan the Scala API builds — one
  // operator, two front doors.

  private def strArg(name: String, pos: Int, e: Expression): String = {
    require(e.foldable,
      s"$name argument $pos must be a string literal, got ${e.sql}")
    e.eval() match {
      case null => throw new IllegalArgumentException(
        s"$name argument $pos must not be null")
      case s => s.toString
    }
  }

  private def csvArg(name: String, pos: Int, e: Expression): Seq[String] = {
    val parts = strArg(name, pos, e).split(",").map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty,
      s"$name argument $pos must name at least one column")
    parts.toSeq
  }

  private def longArg(name: String, pos: Int, e: Expression): Long = {
    require(e.foldable,
      s"$name argument $pos must be an integer literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalArgumentException(
        s"$name argument $pos must be an integer literal, got $other")
    }
  }

  private def boolArg(name: String, pos: Int, e: Expression): Boolean = {
    require(e.foldable,
      s"$name argument $pos must be a boolean literal, got ${e.sql}")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$name argument $pos must be a boolean literal, got $other")
    }
  }

  /** TVF builders shared by `injectTableFunction` and the live-session
    * [[register]] path, like [[descriptions]] for scalar expressions. */
  val tableDescriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    Seq(
      (FunctionIdentifier("graft_asof"),
        info(classOf[AsofJoin], "graft_asof",
          "graft_asof(left, right, by_csv, left_time, right_time, " +
            "carry_csv[, direction[, tolerance_us[, allow_exact]]]) - " +
            "native as-of join over two views/tables; direction " +
            "backward|forward|nearest (default backward)."),
        (args: Seq[Expression]) => {
          val n = "graft_asof"
          require(args.size >= 6 && args.size <= 9,
            s"$n expects 6 to 9 arguments " +
              "(left, right, by_csv, left_time, right_time, carry_csv" +
              "[, direction[, tolerance_us[, allow_exact]]]), got " +
              args.size)
          val spark = org.apache.spark.sql.SparkSession.active
          val out = graft.ops.TemporalJoins.asofJoinNative(
            spark.table(strArg(n, 1, args(0))),
            spark.table(strArg(n, 2, args(1))),
            csvArg(n, 3, args(2)),
            strArg(n, 4, args(3)),
            strArg(n, 5, args(4)),
            csvArg(n, 6, args(5)),
            direction =
              if (args.size > 6) strArg(n, 7, args(6)) else "backward",
            toleranceUs =
              if (args.size > 7) Some(longArg(n, 8, args(7))) else None,
            allowExactMatches =
              if (args.size > 8) boolArg(n, 9, args(8)) else true)
          org.apache.spark.sql.GraftPlanBridge.analyzed(out)
        }),
      (FunctionIdentifier("graft_sessionize"),
        info(classOf[AsofJoin], "graft_sessionize",
          "graft_sessionize(table, by_csv, time_col, gap_us[, " +
            "tiebreak_csv]) - gap sessionization: adds session_id per " +
            "by-key (new session when the gap to the previous row " +
            "exceeds gap_us microseconds)."),
        (args: Seq[Expression]) => {
          val n = "graft_sessionize"
          require(args.size >= 4 && args.size <= 5,
            s"$n expects 4 or 5 arguments (table, by_csv, time_col, " +
              s"gap_us[, tiebreak_csv]), got ${args.size}")
          val spark = org.apache.spark.sql.SparkSession.active
          val out = graft.ops.TemporalJoins.sessionize(
            spark.table(strArg(n, 1, args(0))),
            csvArg(n, 2, args(1)),
            strArg(n, 3, args(2)),
            longArg(n, 4, args(3)),
            tieBreak =
              if (args.size > 4) csvArg(n, 5, args(4)) else Nil)
          org.apache.spark.sql.GraftPlanBridge.analyzed(out)
        }),
      (FunctionIdentifier("graft_range_join"),
        info(classOf[IntervalJoin], "graft_range_join",
          "graft_range_join(left, right, by_csv, left_time, start_col, " +
            "end_col[, inclusive_end]) - native interval join: left rows " +
            "against right [start, end) windows (sort-merge sweep, no " +
            "interval explosion)."),
        (args: Seq[Expression]) => {
          val n = "graft_range_join"
          require(args.size >= 6 && args.size <= 7,
            s"$n expects 6 or 7 arguments (left, right, by_csv, " +
              "left_time, start_col, end_col[, inclusive_end]), got " +
              args.size)
          val spark = org.apache.spark.sql.SparkSession.active
          val out = graft.ops.TemporalJoins.rangeJoinNative(
            spark.table(strArg(n, 1, args(0))),
            spark.table(strArg(n, 2, args(1))),
            csvArg(n, 3, args(2)),
            strArg(n, 4, args(3)),
            strArg(n, 5, args(4)),
            strArg(n, 6, args(5)),
            inclusiveEnd =
              if (args.size > 6) boolArg(n, 7, args(6)) else false)
          org.apache.spark.sql.GraftPlanBridge.analyzed(out)
        }),
      (FunctionIdentifier("graft_overlap_join"),
        info(classOf[IntervalJoin], "graft_overlap_join",
          "graft_overlap_join(left, right, by_csv, left_start, left_end, " +
            "right_start, right_end) - interval x interval overlap join " +
            "on the whole-operator tier (two IntervalJoinExec sweeps, " +
            "exactly-once decomposition, no bucket explosion)."),
        (args: Seq[Expression]) => {
          val n = "graft_overlap_join"
          require(args.size == 7,
            s"$n expects 7 arguments (left, right, by_csv, left_start, " +
              s"left_end, right_start, right_end), got ${args.size}")
          val spark = org.apache.spark.sql.SparkSession.active
          val out = graft.ops.TemporalJoins.overlapJoinNative(
            spark.table(strArg(n, 1, args(0))),
            spark.table(strArg(n, 2, args(1))),
            csvArg(n, 3, args(2)),
            strArg(n, 4, args(3)),
            strArg(n, 5, args(4)),
            strArg(n, 6, args(5)),
            strArg(n, 7, args(6)))
          org.apache.spark.sql.GraftPlanBridge.analyzed(out)
        }),
      (FunctionIdentifier("graft_pit_join"),
        info(classOf[AsofJoin], "graft_pit_join",
          "graft_pit_join(spine, feature, by_csv, spine_time, " +
            "feature_time, cols_csv[, tolerance_us[, step_index]]) - one " +
            "leakage-free point-in-time step on the whole-operator tier " +
            "(the matched timestamp lands in asof_ts_<step_index>; chain " +
            "calls through temp views for multi-table feature stores - " +
            "AsofJoinExec reports outputPartitioning = left, so chained " +
            "steps reuse one exchange)."),
        (args: Seq[Expression]) => {
          val n = "graft_pit_join"
          require(args.size >= 6 && args.size <= 8,
            s"$n expects 6 to 8 arguments (spine, feature, by_csv, " +
              "spine_time, feature_time, cols_csv[, tolerance_us" +
              s"[, step_index]]), got ${args.size}")
          val spark = org.apache.spark.sql.SparkSession.active
          val idx = if (args.size > 7) intArg(n, 8, args(7)) else 0
          // a literal NULL tolerance means "no tolerance" (lets callers
          // reach the trailing step_index positionally)
          val tol =
            if (args.size > 6 && args(6).foldable &&
                args(6).eval() != null) Some(longArg(n, 7, args(6)))
            else None
          val out = graft.ops.TemporalJoins.asofJoinNative(
            spark.table(strArg(n, 1, args(0))),
            spark.table(strArg(n, 2, args(1))),
            csvArg(n, 3, args(2)),
            strArg(n, 4, args(3)),
            strArg(n, 5, args(4)),
            csvArg(n, 6, args(5)),
            toleranceUs = tol,
            matchedTime = s"asof_ts_$idx")
          org.apache.spark.sql.GraftPlanBridge.analyzed(out)
        }),
      (FunctionIdentifier("graft_group_dynamic"),
        info(classOf[AsofJoin], "graft_group_dynamic",
          "graft_group_dynamic(table, id_col, time_col, value_col, " +
            "every, period[, offset[, agg]]) - polars group_by_dynamic: " +
            "sliding `period` windows every `every` (Spark native " +
            "window(), one map-side-combined shuffle); agg " +
            "mean|sum|min|max|count (default mean). Output (id, time = " +
            "window start, value, n_obs)."),
        (args: Seq[Expression]) => {
          val n = "graft_group_dynamic"
          require(args.size >= 6 && args.size <= 8,
            s"$n expects 6 to 8 arguments (table, id_col, time_col, " +
              s"value_col, every, period[, offset[, agg]]), got ${args.size}")
          val spark = org.apache.spark.sql.SparkSession.active
          implicit val pc: graft.core.PanelCols = graft.core.PanelCols(
            strArg(n, 2, args(1)), strArg(n, 3, args(2)),
            strArg(n, 4, args(3)))
          val out = graft.ops.Resample.groupByDynamic(
            spark.table(strArg(n, 1, args(0))),
            every = strArg(n, 5, args(4)),
            period = strArg(n, 6, args(5)),
            offset = if (args.size > 6) strArg(n, 7, args(6)) else "0 seconds",
            agg = if (args.size > 7) strArg(n, 8, args(7)) else "mean")
          org.apache.spark.sql.GraftPlanBridge.analyzed(out)
        }))
}
