package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Temporal joins & sessionization — the time-series data-processing
  * primitives a reference (Polars) user gets from the host engine
  * (`DataFrame.join_asof`, interval filters, gap-based grouping) and a
  * Spark user needs re-expressed shuffle-consciously.
  *
  * Scale design, per operator:
  *
  *  - '''asofJoin''': never a non-equi join, and one operator:
  *    [[asofJoinNative]]'s sort-merge `AsofJoinExec` (each side
  *    hash-partitioned on the `by` keys and sorted by time, then one
  *    forward merge pass). Building it starts no Spark job. A hot `by`
  *    key is handled when the query runs: the query-stage rule
  *    [[graft.plans.SplitSkewedTemporalJoin]] splits a skewed left
  *    shuffle partition under Spark's `skewJoin` thresholds.
  *  - '''rangeJoin''' / '''overlapJoin''': one operator,
  *    [[rangeJoinNative]]'s `IntervalJoinExec` sweep (overlap is two
  *    sweeps), with no interval exploded. A right side under Spark's
  *    `autoBroadcastJoinThreshold` is broadcast and the left side is not
  *    shuffled; a larger one is hash-partitioned with the left on `by`.
  *  - '''sessionize''': lag + running-sum over one window (one exchange);
  *    the Structured Streaming twin uses Spark's native
  *    `session_window` + watermark (see StreamingOps).
  *
  * The reference gets as-of joins from Polars itself
  * (polars `DataFrame.join_asof`; used in time-series feature pipelines
  * alongside polars_ts); this file is the Spark-first equivalent.
  */
object TemporalJoins {

  /** The `_right`-suffix rule every two-sided join shares: a right
    * column whose name collides with one of the `taken` output names
    * (the left columns, plus the as-of `matchedTime`) is emitted as
    * `c_right`. Collision follows the session's resolution rules: left
    * `Val` vs right `val` IS ambiguous under the default
    * case-insensitive resolution, so it must get the rename. */
  private def rightOutName(spark: org.apache.spark.sql.SparkSession,
      taken: Seq[String]): String => String = {
    val eq = nameEq(spark)
    c => if (taken.exists(eq(_, c))) c + "_right" else c
  }

  /** [[rightOutName]] applied to a right frame ahead of
    * [[overlapJoinNative]]'s two sweeps: its colliding columns (except
    * the `by` keys) are renamed. Returns the renamed frame and the
    * old-name → emitted-name mapping. */
  private def renameCollisions(left: DataFrame, right: DataFrame,
      by: Seq[String]): (DataFrame, String => String) = {
    val eq = nameEq(left.sparkSession)
    val out = rightOutName(left.sparkSession, left.columns.toSeq)
    val renames = right.columns.filterNot(c => by.exists(eq(_, c)))
      .map(c => c -> out(c)).filter { case (from, to) => from != to }
    val rRenamed = renames.foldLeft(right) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to)
    }
    (rRenamed, c => renames.find(_._1 == c).map(_._2).getOrElse(c))
  }

  /** Epoch-µs view of a time column (timestamp, date, or numeric). NTZ
    * and DATE cast through LTZ under the session's UTC zone,
    * value-preserving; a numeric column is taken as µs directly (casting
    * a long through TIMESTAMP would silently read it as SECONDS). */
  private[ops] def micros(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType | TimestampNTZType |
           org.apache.spark.sql.types.DateType =>
        unix_micros(col(c).cast("timestamp"))
      case _ => col(c).cast("long")
    }

  /** As-of join: for each left row, the latest right row at-or-before
    * (`backward`), the earliest at-or-after (`forward`), or the closest in
    * either direction (`nearest`, ties → backward) within the same `by`
    * keys; optionally only if within `toleranceUs` (else the carried
    * columns are null, like polars `join_asof(tolerance=)`).
    *
    * Output = all left columns + `matchedTime` (the matched right
    * timestamp, null when unmatched) + `rightCols` (suffixed `_right` on
    * name collision with a left column).
    *
    * Duplicate right timestamps within a `by` group make the match
    * ambiguous (any engine picks one arbitrarily) — pre-aggregate the
    * right side per (by, time) if that matters, as the gate queries do.
    *
    * `by` must be non-empty: a keyless as-of would funnel everything
    * through one merge partition.
    *
    * Null times: right rows with a null time are ignored; left rows with
    * a null time are kept, unmatched (polars drops them — keeping the
    * row with null carries is the lossless superset).
    *
    * One operator: this is [[asofJoinNative]] under its polars name.
    * Building the DataFrame starts no Spark job; a hot `by` key is split
    * at query-stage time ([[graft.plans.SplitSkewedTemporalJoin]]).
    */
  def asofJoin(left: DataFrame, right: DataFrame, by: Seq[String],
               leftTime: String, rightTime: String, rightCols: Seq[String],
               direction: String = "backward",
               toleranceUs: Option[Long] = None,
               matchedTime: String = "asof_ts",
               allowExactMatches: Boolean = true): DataFrame =
    asofJoinNative(left, right, by, leftTime, rightTime, rightCols,
      direction, toleranceUs, matchedTime, allowExactMatches)

  // ── shared plumbing for the whole-operator tier (asofJoinNative /
  // rangeJoinNative): name resolution under the session's
  // case-sensitivity, merge-key derivation (tightest-common-type cast +
  // float NaN/-0.0 normalization) and the one side preparation ────────

  /** Name equality under the session's `spark.sql.caseSensitive` —
    * the comparison every collision/rename decision must use, because
    * column RESOLUTION is case-insensitive by default. */
  private def nameEq(spark: org.apache.spark.sql.SparkSession)
      : (String, String) => Boolean = {
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    if (caseSensitive) (a, b) => a == b else (a, b) => a.equalsIgnoreCase(b)
  }

  /** col()-style name resolution (case-insensitive unless the session
    * says otherwise), returning the ACTUAL column name. */
  private def resolveName(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, name: String, side: String): String = {
    val eq = nameEq(spark)
    df.columns.find(eq(_, name))
      .getOrElse(throw new IllegalArgumentException(
        s"temporal native join: no column $name on the $side side"))
  }

  /** Tightest common type per key (the coercion `unionByName` would
    * give), failing loudly on incompatible pairs. */
  private def commonKeyTypes(left: DataFrame, right: DataFrame,
      byL: Seq[String], byR: Seq[String],
      by: Seq[String]): Seq[org.apache.spark.sql.types.DataType] =
    by.indices.map { i =>
      val lt = left.schema(byL(i)).dataType
      val rt = right.schema(byR(i)).dataType
      if (lt == rt) lt
      else org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findTightestCommonType(lt, rt).getOrElse(
          throw new IllegalArgumentException(
            s"temporal native join: key '${by(i)}' has incompatible " +
              s"types $lt vs $rt"))
    }

  /** A merge-key column: cast to the common type, float keys
    * NaN/-0.0-normalized (NormalizeFloatingNumbers cannot see custom
    * nodes). */
  private def mergeKeyCol(name: String,
      t: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val cast = col(name).cast(t)
    t match {
      case DoubleType | FloatType => GraftColumnBridge.column(
        NormalizeNaNAndZero(GraftColumnBridge.expression(cast)))
      case _ => cast
    }
  }

  /** True when the merge key must be a DERIVED column on the left side
    * (cast or normalization changes it); otherwise the node keys on the
    * original left attribute so outputPartitioning stays expressed on a
    * surviving output column and chained steps reuse the exchange. */
  private def leftKeyDerived(left: DataFrame, byL: Seq[String],
      keyTypes: Seq[org.apache.spark.sql.types.DataType]): Seq[Boolean] = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    byL.indices.map(i =>
      keyTypes(i) != left.schema(byL(i)).dataType ||
        keyTypes(i) == DoubleType || keyTypes(i) == FloatType)
  }

  /** Both children of a native temporal join node, as [[nativeSides]]
    * prepares them: `lTime` is the left `__ltu` (epoch µs), `rTimes` the
    * right time columns in the order given, `payload` the carried right
    * attributes and `payloadOut` their output attributes under
    * `outNames` (the [[rightOutName]] rule). */
  private final case class NativeSides(lChild: LogicalPlan,
      rChild: LogicalPlan, lKeys: Seq[Attribute], rKeys: Seq[Attribute],
      lTime: Attribute, rTimes: Seq[Attribute], payload: Seq[Attribute],
      payloadOut: Seq[Attribute], outNames: Seq[String])

  /** The side preparation [[asofJoinNative]] and [[rangeJoinNative]]
    * share. Resolves `by`, `leftTime` and `rightCols` under the
    * session's case rules, rejects reserved names and duplicate payload
    * columns, and derives the merge keys (tightest common type,
    * NaN/-0.0-normalized floats). The left frame gains `__ltu` and any
    * derived key `__gk<i>`; the right side is projected to its merge
    * keys, the `rightTimes` (alias → expression over `right`) and the
    * payload, under fresh expression ids. `taken` lists output names
    * besides the left columns that a payload column must not reuse. */
  private def nativeSides(op: String, left: DataFrame, right: DataFrame,
      by: Seq[String], leftTime: String, rightTimes: Seq[(String, Column)],
      rightCols: Seq[String], taken: Seq[String]): NativeSides = {
    val spark = left.sparkSession
    graft.plans.GraftPlanning.ensure(spark)

    val byL = by.map(resolveName(spark, left, _, "left"))
    val byR = by.map(resolveName(spark, right, _, "right"))
    val lTimeN = resolveName(spark, left, leftTime, "left")
    val payloadN = rightCols.map(resolveName(spark, right, _, "right"))

    val keyNames = by.indices.map(i => s"__gk$i")
    val reserved = ("__ltu" +: rightTimes.map(_._1)) ++ keyNames
    val eq = nameEq(spark)
    require(!(left.columns.toSeq ++ payloadN)
      .exists(c => reserved.exists(eq(_, c))),
      s"$op: column names ${reserved.mkString(", ")} are reserved")
    // a duplicated payload column would otherwise surface later as an
    // opaque ambiguous-reference AnalysisException from the final select
    require(payloadN.distinct.size == payloadN.size,
      s"$op: duplicate right columns: ${
        payloadN.diff(payloadN.distinct).distinct.mkString(", ")}")
    val outNames =
      payloadN.map(rightOutName(spark, left.columns.toSeq ++ taken))

    val keyTypes = commonKeyTypes(left, right, byL, byR, by)
    val lDerived = leftKeyDerived(left, byL, keyTypes)

    val lPrep = by.indices.foldLeft(
      left.withColumn("__ltu", micros(left, lTimeN))) { (d, i) =>
      if (lDerived(i))
        d.withColumn(keyNames(i), mergeKeyCol(byL(i), keyTypes(i)))
      else d
    }
    val rPrep = right.select(
      (by.indices.map(i =>
        mergeKeyCol(byR(i), keyTypes(i)).as(keyNames(i))) ++
        rightTimes.map { case (alias, c) => c.as(alias) }) ++
        payloadN.map(col): _*)
    val lChild = GraftPlanBridge.analyzed(lPrep)
    // fresh exprIds on the right side so a self-join never aliases the
    // same attribute into both children of the node
    val rChild0 = GraftPlanBridge.analyzed(rPrep)
    val rChild = Project(rChild0.output.map(a => Alias(a, a.name)()), rChild0)

    def attr(out: Seq[Attribute], name: String): Attribute =
      out.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"$op: no column $name"))
    val rOut = rChild.output
    val payload = payloadN.map(attr(rOut, _))
    NativeSides(lChild, rChild,
      lKeys = by.indices.map(i =>
        attr(lChild.output, if (lDerived(i)) keyNames(i) else byL(i))),
      rKeys = keyNames.map(attr(rOut, _)),
      lTime = attr(lChild.output, "__ltu"),
      rTimes = rightTimes.map(t => attr(rOut, t._1)),
      payload = payload,
      payloadOut = payload.zip(outNames).map { case (a, o) =>
        AttributeReference(o, a.dataType, nullable = true)()
      },
      outNames = outNames)
  }

  /** The as-of join ([[asofJoin]]'s semantics) as a whole-operator
    * Catalyst node: a [[graft.plans.AsofJoin]] logical node planned by
    * [[graft.plans.GraftStrategy]] into the sort-merge
    * [[graft.plans.AsofJoinExec]] — two per-side exchanges + sorts and a
    * single O(|L|+|R|) merge pass. The left side's partitioning/ordering
    * survive to downstream operators, and deterministic left-side
    * filters written above the join are pushed below it by
    * [[graft.plans.PushFilterThroughAsofJoin]].
    *
    * Starts no Spark job while the DataFrame is built. Skew is handled
    * when the query runs: if the materialized left shuffle holds a
    * partition above Spark's `spark.sql.adaptive.skewJoin.*` thresholds,
    * [[graft.plans.SplitSkewedTemporalJoin]] splits it and replicates the
    * matching right partition (row-identical to the unsplit merge). A
    * key hot on BOTH sides still sorts its whole right partition in each
    * split.
    *
    * Registers the strategy/rules on the live session (idempotent), so
    * it works whether or not the session loaded
    * [[graft.plans.GraftExtensions]].
    *
    * The merge runs on derived key columns: each `by` key is cast to
    * the tightest common type of the two sides and float/double keys are
    * NaN/-0.0-normalized (what NormalizeFloatingNumbers does for a join
    * or window key — the custom node is invisible to that rule), so
    * mixed-width or floating keys match instead of silently missing
    * across partitions. */
  def asofJoinNative(left: DataFrame, right: DataFrame, by: Seq[String],
                     leftTime: String, rightTime: String,
                     rightCols: Seq[String],
                     direction: String = "backward",
                     toleranceUs: Option[Long] = None,
                     matchedTime: String = "asof_ts",
                     allowExactMatches: Boolean = true): DataFrame = {
    require(by.nonEmpty,
      "asofJoinNative: empty `by` would single-partition the merge; supply keys")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoinNative: unknown direction '$direction'")
    require(rightCols.nonEmpty, "asofJoinNative: no right columns to carry")
    toleranceUs.foreach(t =>
      require(t >= 0, "asofJoinNative: negative tolerance"))

    val spark = left.sparkSession
    // a matchedTime that resolves against an existing left column would
    // otherwise surface later as an opaque ambiguous-reference
    // AnalysisException from the final select
    require(!left.columns.exists(nameEq(spark)(_, matchedTime)),
      s"asofJoinNative: matchedTime '$matchedTime' collides with a left " +
        "column; pass a different matchedTime")
    val rTimeN = resolveName(spark, right, rightTime, "right")
    val sides = nativeSides("asofJoinNative", left, right, by, leftTime,
      Seq("__rt" -> col(rTimeN), "__rtu" -> micros(right, rTimeN)),
      rightCols, taken = Seq(matchedTime))
    val Seq(rt, rtu) = sides.rTimes
    val node = graft.plans.AsofJoin(
      sides.lChild, sides.rChild, sides.lKeys, sides.rKeys, sides.lTime,
      rtu, rt +: sides.payload,
      AttributeReference(matchedTime, rt.dataType, nullable = true)() +:
        sides.payloadOut,
      direction, toleranceUs, allowExactMatches)
    GraftPlanBridge.ofRows(spark, node)
      .select((left.columns.toSeq :+ matchedTime).map(col) ++
        sides.outNames.map(col): _*)
  }

  /** Feature-store point-in-time join: as-of join a spine (entity, time)
    * against several feature tables in sequence — the leakage-free
    * training-snapshot assembly (each feature value is the latest
    * at-or-before the spine row's time, never a future one). One
    * backward [[asofJoin]] per feature table. The chained steps reuse
    * one spine exchange: AsofJoinExec reports `outputPartitioning =
    * left`, so step i+1's left side is already clustered on `by` and
    * EnsureRequirements inserts no new shuffle. The i-th table's
    * matched timestamp lands in `asof_ts_i`. */
  def pointInTimeJoin(spine: DataFrame, by: Seq[String], spineTime: String,
      features: Seq[(DataFrame, String, Seq[String], Option[Long])]): DataFrame =
    features.zipWithIndex.foldLeft(spine) {
      case (acc, ((ft, timeCol, cols, tol), i)) =>
        asofJoin(acc, ft, by, spineTime, timeCol, cols,
          toleranceUs = tol, matchedTime = s"asof_ts_$i")
    }

  /** Interval (range) join: left rows whose `leftTime` falls in the right
    * side's `[startCol, endCol)` (or `[..]` with `inclusiveEnd`) under
    * equal `by` keys. Returns left columns + right columns (right names
    * colliding with left ones suffixed `_right`; `by` keys emitted once).
    *
    * One operator: this is [[rangeJoinNative]] under its older
    * signature. `bucketUs` and `maxBucketsPerInterval` are accepted and
    * ignored — the sweep has no buckets, so no interval width is too
    * wide. `by` must be non-empty: an empty `by` fails with an
    * `IllegalArgumentException` rather than running a keyless join.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, by: Seq[String],
                leftTime: String, startCol: String, endCol: String,
                bucketUs: Long, inclusiveEnd: Boolean = false,
                maxBucketsPerInterval: Int = 4096): DataFrame =
    rangeJoinNative(left, right, by, leftTime, startCol, endCol, inclusiveEnd)

  /** [[rangeJoin]]'s semantics as a whole-operator Catalyst node, a
    * [[graft.plans.IntervalJoin]] planned into the sweep
    * [[graft.plans.IntervalJoinExec]] (broadcast or shuffled, see
    * there); [[rangeJoin]] delegates to it, so the two run one plan. No
    * interval is exploded, so a 30-day interval costs what a 30-second
    * one does. Building it starts no Spark job. */
  def rangeJoinNative(left: DataFrame, right: DataFrame, by: Seq[String],
                      leftTime: String, startCol: String, endCol: String,
                      inclusiveEnd: Boolean = false): DataFrame = {
    require(by.nonEmpty,
      "rangeJoinNative: empty `by` would single-partition the merge; supply keys")

    val spark = left.sparkSession
    val eq = nameEq(spark)
    // payload = every right column except the by keys (emitted once,
    // from the left side)
    val payloadN = right.columns.toSeq.filterNot(c => by.exists(eq(_, c)))
    require(payloadN.nonEmpty, "rangeJoinNative: no right columns to carry")
    def bound(c: String): Column =
      micros(right, resolveName(spark, right, c, "right"))
    val sides = nativeSides("rangeJoinNative", left, right, by, leftTime,
      Seq("__rsu" -> bound(startCol), "__reu" -> bound(endCol)), payloadN,
      taken = Nil)
    val Seq(rsu, reu) = sides.rTimes
    val node = graft.plans.IntervalJoin(
      sides.lChild, sides.rChild, sides.lKeys, sides.rKeys, sides.lTime,
      rsu, reu, sides.payload, sides.payloadOut, inclusiveEnd)
    GraftPlanBridge.ofRows(spark, node)
      .select(left.columns.toSeq.map(col) ++ sides.outNames.map(col): _*)
  }

  /** Interval-overlap join: pairs whose half-open intervals
    * `[leftStart, leftEnd)` and `[rightStart, rightEnd)` overlap under
    * equal `by` keys (`lS < rE && rS < lE`). Right columns colliding
    * with left names are suffixed `_right`; `by` keys emitted once.
    *
    * One operator: this is [[overlapJoinNative]] under its older
    * signature; `bucketUs` and `maxBucketsPerInterval` are accepted and
    * ignored. `by` must be non-empty (`IllegalArgumentException`). */
  def overlapJoin(left: DataFrame, right: DataFrame, by: Seq[String],
                  leftStart: String, leftEnd: String,
                  rightStart: String, rightEnd: String,
                  bucketUs: Long,
                  maxBucketsPerInterval: Int = 4096): DataFrame =
    overlapJoinNative(left, right, by, leftStart, leftEnd,
      rightStart, rightEnd)

  /** [[overlapJoin]] on the whole-operator tier, by COMPOSITION over
    * [[rangeJoinNative]] (no third physical operator needed): two
    * intervals overlap iff the left one STARTS inside the right one
    * (`ls ∈ [rs, re)`, leg 1) or the right one starts STRICTLY inside
    * the left one (`rs ∈ (ls, le)`, leg 2) — a disjoint, exactly-once
    * decomposition, so the union needs no dedup. Each leg is one
    * IntervalJoinExec sweep, broadcast or shuffled by its right side's
    * size; a final residual filter (`ls < re && rs < le`) pins exactness
    * on degenerate empty intervals. */
  def overlapJoinNative(left: DataFrame, right: DataFrame, by: Seq[String],
                        leftStart: String, leftEnd: String,
                        rightStart: String, rightEnd: String): DataFrame = {
    val spark = left.sparkSession
    // resolve every user-supplied name up front (case semantics as the
    // native legs), so the collision rename below never misclassifies a
    // differently-cased by key as a payload collision
    val byR = by.map(resolveName(spark, right, _, "right"))
    val lsN = resolveName(spark, left, leftStart, "left")
    val leN = resolveName(spark, left, leftEnd, "left")
    val rsN = resolveName(spark, right, rightStart, "right")
    val reN = resolveName(spark, right, rightEnd, "right")
    // pre-rename right's colliding non-by columns to their FINAL output
    // names so both legs emit identical schemas
    val (rRenamed, rName) = renameCollisions(left, right, byR)
    val rsOut = rName(rsN)
    val reOut = rName(reN)
    val outCols =
      left.columns.toSeq ++ rRenamed.columns.toSeq.filterNot(byR.contains)

    val leg1 = rangeJoinNative(left, rRenamed, by, lsN, rsOut, reOut)
      .select(outCols.map(col): _*)
    // leg 2's strictness and the final residual compare MICROS (what the
    // sweep compares) — raw column comparison would
    // break mixed numeric-vs-timestamp bounds across sides
    val leg2raw = rangeJoinNative(rRenamed, left, by, rsOut, lsN, leN)
    val leg2 = leg2raw
      .filter(micros(leg2raw, rsOut) > micros(leg2raw, lsN))
      .select(outCols.map(col): _*)
    val uni = leg1.unionByName(leg2)
    uni.filter(micros(uni, lsN) < micros(uni, reOut) &&
      micros(uni, rsOut) < micros(uni, leN))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous row (per `by` keys, ordered by `timeCol` then `tieBreak`)
    * exceeds `gapUs` strictly. Adds `session_id` (1-based per key).
    * One exchange + one sort; session summaries are a groupBy on top.
    * Null-time rows sort first and each opens its own session (a null
    * gap can't be compared) — filter them upstream if that matters. */
  def sessionize(df: DataFrame, by: Seq[String], timeCol: String,
                 gapUs: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(by.nonEmpty, "sessionize: empty `by` would single-partition")
    require(gapUs > 0, "sessionize: gapUs must be positive")
    val order = col("__tu").asc +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(by.map(col): _*).orderBy(order: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tu", micros(df, timeCol))
      .withColumn("__new",
        when(lag(col("__tu"), 1).over(w).isNull ||
          col("__tu") - lag(col("__tu"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(run))
      .drop("__tu", "__new")
  }
}
