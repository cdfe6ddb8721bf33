package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute,
  AttributeSet, Expression, GenericInternalRow, JoinedRow, NamedExpression,
  PredicateHelper, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Whole-operator Catalyst tier: the engine's one as-of join.
  *
  * [[graft.ops.TemporalJoins.asofJoin]] and `asofJoinNative` both build
  * this operator: a first-class logical node ([[AsofJoin]]), a planner
  * strategy ([[GraftStrategy]]), and a sort-merge physical operator
  * ([[AsofJoinExec]]) that declares `ClusteredDistribution` on each
  * side's keys and `(keys, time)` child orderings, letting
  * EnsureRequirements insert the two per-side exchanges/sorts (and AQE
  * coalesce them coordinately, exactly as it does for SortMergeJoin).
  * The match itself is a single forward merge pass per partition:
  * right rows are consumed at most once across the whole left side —
  * no window state, no union, no payload struct — and the left side's
  * partitioning/ordering survive to downstream operators
  * (`outputPartitioning = left`), so a following per-key aggregation
  * reuses the exchange. A skewed left shuffle partition is split at
  * query-stage time by [[SplitSkewedTemporalJoin]].
  *
  * Semantics (spec-pinned against a driver-side as-of composed from
  * this definition on all direction × tolerance × exact-match forms):
  * per left row the latest right row at-or-before (`backward`),
  * earliest at-or-after (`forward`), or closest (`nearest`, ties →
  * backward) within equal keys (null keys group together, as in a
  * window partition), optionally within `toleranceUs`;
  * `allowExactMatches = false` makes both comparisons strict. Left rows
  * with a null time stay unmatched; right rows with a null time are
  * ignored. Reference surface: polars `DataFrame.join_asof`
  * (`py-polars/polars/dataframe/frame.py`, `join_asof`); the Spark
  * ecosystem's precedent for this operator shape is Flint's asof join.
  *
  * [[PushFilterThroughAsofJoin]] is the optimizer `Rule[LogicalPlan]`
  * companion: the operator preserves left rows 1:1, so any
  * deterministic predicate over left-side attributes commutes with the
  * join and is pushed below it — filters written after the join still
  * reach the left scan.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTimeUs: Expression,
    rightTimeUs: Expression,
    rightCarry: Seq[Expression],
    carryAttrs: Seq[Attribute],
    direction: String,
    toleranceUs: Option[Long],
    allowExactMatches: Boolean)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ carryAttrs
  override def producedAttributes: AttributeSet = AttributeSet(carryAttrs)
  // left-preserving 1:1: every left row yields exactly one output row
  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoin]] to [[AsofJoinExec]] and [[IntervalJoin]] to
  * [[IntervalJoinExec]], broadcasting the interval side when it passes
  * the size test of Spark's `JoinSelection` (`canBroadcastBySize`:
  * estimated size at most `spark.sql.autoBroadcastJoinThreshold`).
  * Injected via [[GraftExtensions]] (loaded for every session through
  * its ServiceLoader entry) or the live-session path
  * [[GraftPlanning.ensure]]. */
object GraftStrategy extends SparkStrategy with JoinSelectionHelper {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, carry, cAttrs, dir, tol, exact) =>
      AsofJoinExec(lk, rk, lt, rt, carry, cAttrs, dir, tol, exact,
        planLater(l), planLater(r)) :: Nil
    case IntervalJoin(l, r, lk, rk, lt, rs, re, pay, pAttrs, incl) =>
      IntervalJoinExec(lk, rk, lt, rs, re, pay, pAttrs, incl,
        planLater(l), planLater(r),
        broadcastRight = canBroadcastBySize(r, SQLConf.get)) :: Nil
    case _ => Nil
  }
}

/** Pushes deterministic left-only predicates below [[AsofJoin]] /
  * [[IntervalJoin]]. Sound because both operators emit every output
  * row with its left row's columns unchanged — AsofJoin 1:1,
  * IntervalJoin 1:N — so a left-only predicate selects exactly the
  * same output rows on either side of the node (carried right columns
  * are the only produced attributes, never referenced by a pushable
  * predicate). Reaches fixpoint in one pass: after the rewrite the
  * remaining conjuncts reference carry attributes, so the partition
  * yields nothing further to push. */
object PushFilterThroughAsofJoin extends Rule[LogicalPlan]
  with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsofJoin) =>
      rewrite(f, cond, aj.left,
        newLeft => aj.copy(left = newLeft))
    case f @ Filter(cond, ij: IntervalJoin) =>
      rewrite(f, cond, ij.left,
        newLeft => ij.copy(left = newLeft))
  }

  private def rewrite(f: Filter, cond: Expression, left: LogicalPlan,
                      withLeft: LogicalPlan => LogicalPlan): LogicalPlan = {
    val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
      p.deterministic && p.references.subsetOf(left.outputSet))
    if (push.isEmpty) f
    else {
      val pushed = withLeft(Filter(push.reduce(And), left))
      if (keep.isEmpty) pushed else Filter(keep.reduce(And), pushed)
    }
  }
}

/** Prunes [[AsofJoin]] / [[IntervalJoin]] columns a parent Project
  * doesn't use — on BOTH sides, below the operator, which is below the
  * per-side exchanges: the saving is shuffle/sort bytes, not just scan
  * width. Left attrs feeding the keys/time expressions are always kept
  * (the merge needs them); right-side pruning keeps keys/time-bounds
  * plus the carries that survive. Fixpoint: a second pass finds
  * nothing unused. */
object PruneAsofJoinColumns extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // Project directly over the node, and Project over the residual
    // Filter that PushFilterThroughAsofJoin leaves above the join (e.g.
    // filter(rv > 0.5).select(...)): without the Filter variant, unused
    // wide columns still flow through both exchanges/sorts. The Filter's
    // own references count as used so its predicate stays bound.
    case p @ Project(projList, aj: AsofJoin) =>
      pruneAsof(p, projList, AttributeSet(Nil), aj, identity)
    case p @ Project(projList, Filter(cond, aj: AsofJoin)) =>
      pruneAsof(p, projList, cond.references, aj, Filter(cond, _))
    case p @ Project(projList, ij: IntervalJoin) =>
      pruneInterval(p, projList, AttributeSet(Nil), ij, identity)
    case p @ Project(projList, Filter(cond, ij: IntervalJoin)) =>
      pruneInterval(p, projList, cond.references, ij, Filter(cond, _))
  }

  private def pruneAsof(p: Project, projList: Seq[NamedExpression],
      extraUsed: AttributeSet, aj: AsofJoin,
      wrap: LogicalPlan => LogicalPlan): LogicalPlan =
    prune(p, projList, extraUsed, aj.left, aj.right,
      aj.leftKeys, Seq(aj.leftTimeUs),
      aj.rightKeys, Seq(aj.rightTimeUs),
      aj.carryAttrs, aj.rightCarry,
      (l, r, carry, attrs) =>
        aj.copy(left = l, right = r, rightCarry = carry,
          carryAttrs = attrs),
      wrap)

  private def pruneInterval(p: Project, projList: Seq[NamedExpression],
      extraUsed: AttributeSet, ij: IntervalJoin,
      wrap: LogicalPlan => LogicalPlan): LogicalPlan =
    prune(p, projList, extraUsed, ij.left, ij.right,
      ij.leftKeys, Seq(ij.leftTimeUs),
      ij.rightKeys, Seq(ij.rightStartUs, ij.rightEndUs),
      ij.payloadAttrs, ij.rightPayload,
      (l, r, pay, attrs) =>
        ij.copy(left = l, right = r, rightPayload = pay,
          payloadAttrs = attrs),
      wrap)

  private def prune(p: Project, projList: Seq[NamedExpression],
      extraUsed: AttributeSet,
      left: LogicalPlan, right: LogicalPlan,
      leftKeys: Seq[Expression], leftAux: Seq[Expression],
      rightKeys: Seq[Expression], rightAux: Seq[Expression],
      carryAttrs: Seq[Attribute], carries: Seq[Expression],
      rebuild: (LogicalPlan, LogicalPlan, Seq[Expression], Seq[Attribute])
        => LogicalPlan,
      wrap: LogicalPlan => LogicalPlan): LogicalPlan = {
    val used = AttributeSet(projList.flatMap(_.references)) ++ extraUsed
    val lRequired = used ++
      AttributeSet((leftKeys ++ leftAux).flatMap(_.references))
    val keptLeft = left.output.filter(lRequired.contains)
    val (keptCarryAttrs, keptCarry) =
      carryAttrs.zip(carries).filter { case (a, _) => used.contains(a) }.unzip
    if (keptLeft.size == left.output.size &&
        keptCarryAttrs.size == carryAttrs.size) p
    else {
      val newLeft =
        if (keptLeft.size == left.output.size) left
        else Project(keptLeft, left)
      val rRequired =
        AttributeSet((rightKeys ++ rightAux ++ keptCarry).flatMap(_.references))
      val keptRight = right.output.filter(rRequired.contains)
      val newRight =
        if (keptRight.size == right.output.size) right
        else Project(keptRight, right)
      Project(projList,
        wrap(rebuild(newLeft, newRight, keptCarry, keptCarryAttrs)))
    }
  }
}

/** Live-session registration for the planner tier, called by every
  * builder of an [[AsofJoin]] / [[IntervalJoin]] node. It is the one
  * registration path of the two optimizer rules: as user-provided
  * optimizations they run after Spark's own operator optimizations.
  * The strategy is added only when [[GraftExtensions]] has not injected
  * it. Idempotent. */
object GraftPlanning {
  def ensure(spark: SparkSession): Unit = synchronized {
    val e = GraftPlanBridge.experimental(spark)
    // a session that loaded GraftExtensions already plans the node
    if (!GraftPlanBridge.plannerStrategies(spark).contains(GraftStrategy))
      e.extraStrategies = e.extraStrategies :+ GraftStrategy
    if (!e.extraOptimizations.contains(PushFilterThroughAsofJoin))
      e.extraOptimizations = e.extraOptimizations :+ PushFilterThroughAsofJoin
    if (!e.extraOptimizations.contains(PruneAsofJoinColumns))
      e.extraOptimizations = e.extraOptimizations :+ PruneAsofJoinColumns
  }
}

/** Sort-merge as-of join.
  *
  * Child contracts (enforced by EnsureRequirements from the declared
  * distribution/ordering): both sides hash-clustered on their keys with
  * compatible partitioning, sorted within partitions by (keys, timeUs
  * asc nulls-first). `doExecute` zips the co-partitioned children and
  * runs one merge pass: the right iterator only ever moves forward, so
  * the whole partition costs O(|L| + |R|) with two retained right rows
  * of state (the two most recent distinct-timestamp matches — two, not
  * one, so strict mode still has the previous row when the newest
  * retained timestamp equals the probe time).
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTimeUs: Expression,
    rightTimeUs: Expression,
    rightCarry: Seq[Expression],
    carryAttrs: Seq[Attribute],
    direction: String,
    toleranceUs: Option[Long],
    allowExactMatches: Boolean,
    left: SparkPlan,
    right: SparkPlan,
    isSkewJoin: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ carryAttrs
  override def producedAttributes: AttributeSet = AttributeSet(carryAttrs)

  // a skew-split child pairs left splits with replicated right
  // partitions (SplitSkewedTemporalJoin): co-partitioned, but no longer
  // hash-clustered
  override def requiredChildDistribution: Seq[Distribution] =
    if (isSkewJoin) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTimeUs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTimeUs, Ascending))

  // left rows pass through 1:1 in order — partitioning and ordering of
  // the left child survive for downstream reuse
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTimeUs
    val rTimeB = rightTimeUs
    val carryB = rightCarry
    val keyTypes = leftKeys.map(_.dataType)
    val nCarry = carryAttrs.size
    val outAttrs = output
    val dir = direction
    val tol = toleranceUs
    val exact = allowExactMatches
    // equal-timestamp right rows must be consumed (become backward
    // candidates) except when forward/nearest needs them still visible
    // at the head as at-or-after matches
    val consumeEq = dir == "backward" || !exact

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rOut)
      val carryProj = UnsafeProjection.create(carryB, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullCarry = new GenericInternalRow(nCarry)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      // two-slot history of consumed key-matching right rows: last and
      // previous DISTINCT timestamp (equal timestamps replace in place,
      // later-in-sort-order wins, matching the window carry's `last`)
      var lastKey: InternalRow = null
      var lastT = 0L
      var lastRow: InternalRow = null
      var prevKey: InternalRow = null
      var prevT = 0L
      var prevRow: InternalRow = null

      def retain(k: InternalRow, t: Long, row: InternalRow): Unit = {
        if (lastKey == null || keyOrd.compare(k, lastKey) != 0) {
          prevKey = null; prevRow = null
          lastKey = k; lastT = t; lastRow = row
        } else if (t == lastT) {
          lastRow = row // same key+ts: later sort position supersedes
        } else {
          prevKey = lastKey; prevT = lastT; prevRow = lastRow
          lastKey = k; lastT = t; lastRow = row
        }
      }

      lIter.map { lrow =>
        var mRow: InternalRow = null
        val ltRow = lTimeProj(lrow)
        if (!ltRow.isNullAt(0)) {
          val lt = ltRow.getLong(0)
          val lk = lKeyProj(lrow)
          // advance the right side up to this probe
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val h = rBuf.head
            val htRow = rTimeProj(h)
            if (htRow.isNullAt(0)) { rBuf.next() } // null-time right rows ignored
            else {
              val ht = htRow.getLong(0)
              val hk = rKeyProj(h)
              val c = keyOrd.compare(hk, lk)
              if (c < 0) { rBuf.next() }
              else if (c == 0 && (ht < lt || (ht == lt && consumeEq))) {
                if (dir != "forward") // forward never looks behind
                  retain(hk.copy(), ht, carryProj(h).copy())
                rBuf.next()
              } else advancing = false
            }
          }
          // backward candidate from the retained slots (strict mode may
          // have to fall back to the previous distinct timestamp)
          var bRow: InternalRow = null
          var bT = 0L
          if (dir != "forward" && lastKey != null &&
              keyOrd.compare(lastKey, lk) == 0) {
            if (exact || lastT < lt) { bRow = lastRow; bT = lastT }
            else if (prevKey != null && prevT < lt) { bRow = prevRow; bT = prevT }
          }
          // forward candidate = the unconsumed head, if it matches
          var fRow: InternalRow = null
          var fT = 0L
          if (dir != "backward" && rBuf.hasNext) {
            val h = rBuf.head
            val htRow = rTimeProj(h)
            if (!htRow.isNullAt(0)) {
              val ht = htRow.getLong(0)
              if ((if (exact) ht >= lt else ht > lt) &&
                  keyOrd.compare(rKeyProj(h), lk) == 0) {
                fRow = carryProj(h); fT = ht // used before next head access
              }
            }
          }
          val (cRow, cT) = dir match {
            case "backward" => (bRow, bT)
            case "forward" => (fRow, fT)
            case _ => // nearest: closest wins, distance ties go backward
              if (bRow == null) (fRow, fT)
              else if (fRow == null) (bRow, bT)
              else if (lt - bT <= fT - lt) (bRow, bT)
              else (fRow, fT)
          }
          // tolerance applies to the picked candidate (the composed
          // operator's contract: pick first, then null out-of-tolerance
          // — equivalent to filter-first since the pick is min-distance)
          if (cRow != null && tol.forall(t => math.abs(lt - cT) <= t))
            mRow = cRow
        }
        joined(lrow, if (mRow != null) mRow else nullCarry)
        resultProj(joined)
      }
    }
  }
}
