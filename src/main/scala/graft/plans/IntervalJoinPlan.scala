package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeSet, Expression, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Whole-operator tier, second node: a native interval (range) join.
  *
  * The composed [[graft.ops.TemporalJoins.rangeJoin]] is the classic
  * bucketed form: every right interval EXPLODES into its covered time
  * buckets and the join becomes an equi-join on (keys, bucket). That
  * duplication factor — buckets per interval — is the form's scale
  * ceiling: a 30-day interval at 6-hour buckets shuffles 120 copies,
  * and the fail-loud valve (`maxBucketsPerInterval`) exists precisely
  * because the factor is unbounded. This operator removes the
  * explosion: both sides shuffle ONCE at their natural row counts
  * (left sorted by (keys, time), right by (keys, start)), and a
  * per-partition sweep maintains the set of intervals currently
  * overlapping the probe time — state bounded by the true concurrent
  * overlap, not by interval length. No bucket width to tune, no valve
  * needed.
  *
  * Semantics (identical to the composed form, spec-pinned): inner join
  * of left rows at `leftTimeUs` against right intervals
  * `[startUs, endUs)` (or `[..]` with `inclusiveEnd`) under equal
  * keys; SQL equi-join null semantics (null in any key or time never
  * matches — unlike [[AsofJoin]]'s window-style null grouping, because
  * the composed twin here is a real join, not a window).
  *
  * [[PushFilterThroughAsofJoin]], [[PruneAsofJoinColumns]] and
  * [[SplitSkewedTemporalJoin]] cover this node too: every output row
  * carries its left row's columns unchanged, so deterministic left-only
  * predicates commute, a parent Project prunes both children below
  * their exchanges, and a skewed left partition can be split against
  * its replicated right partition.
  */
case class IntervalJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTimeUs: Expression,
    rightStartUs: Expression,
    rightEndUs: Expression,
    rightPayload: Seq[Expression],
    payloadAttrs: Seq[Attribute],
    inclusiveEnd: Boolean)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ payloadAttrs
  override def producedAttributes: AttributeSet = AttributeSet(payloadAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** Sort-merge interval join: per co-partitioned zip, sweep the left
  * probes in (keys, time) order against right intervals in
  * (keys, start) order, maintaining the active set (started, not yet
  * ended). Right rows are consumed exactly once; each emitted pair is
  * produced exactly once; cost O(|L| + |R| + output). */
case class IntervalJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTimeUs: Expression,
    rightStartUs: Expression,
    rightEndUs: Expression,
    rightPayload: Seq[Expression],
    payloadAttrs: Seq[Attribute],
    inclusiveEnd: Boolean,
    left: SparkPlan,
    right: SparkPlan,
    isSkewJoin: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadAttrs
  override def producedAttributes: AttributeSet = AttributeSet(payloadAttrs)

  // skew-split children (SplitSkewedTemporalJoin) are co-partitioned but
  // no longer hash-clustered
  override def requiredChildDistribution: Seq[Distribution] =
    if (isSkewJoin) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTimeUs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+
      SortOrder(rightStartUs, Ascending))

  // inner 1:N with left rows emitted in order — left clustering and
  // ordering survive for downstream reuse
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTimeUs
    val rStartB = rightStartUs
    val rEndB = rightEndUs
    val payloadB = rightPayload
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    val inclEnd = inclusiveEnd

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rBoundsProj = UnsafeProjection.create(Seq(rStartB, rEndB), rOut)
      val payloadProj = UnsafeProjection.create(payloadB, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      // intervals of ONE key currently overlapping the sweep position:
      // (endUs, payload copy); invalidated when the left key moves on
      val active = scala.collection.mutable.ArrayBuffer
        .empty[(Long, InternalRow)]
      var activeKey: InternalRow = null

      def alive(e: Long, t: Long): Boolean = if (inclEnd) t <= e else t < e

      lIter.flatMap { lrow =>
        val ltRow = lTimeProj(lrow)
        val lk = lKeyProj(lrow)
        if (ltRow.isNullAt(0) || lk.anyNull) Iterator.empty
        else {
          val lt = ltRow.getLong(0)
          if (activeKey == null || keyOrd.compare(activeKey, lk) != 0) {
            active.clear()
            activeKey = lk.copy()
          }
          // admit right intervals whose start is at-or-before the probe
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val h = rBuf.head
            val hk = rKeyProj(h)
            val c = if (hk.anyNull) -1 else keyOrd.compare(hk, lk)
            if (c < 0) { rBuf.next() } // earlier key or null key: discard
            else if (c > 0) advancing = false
            else {
              val b = rBoundsProj(h)
              if (b.isNullAt(0) || b.isNullAt(1)) { rBuf.next() } // null bounds ignored
              else if (b.getLong(0) <= lt) {
                val e = b.getLong(1)
                if (alive(e, lt)) // dead-on-arrival intervals never enter
                  active += ((e, payloadProj(h).copy()))
                rBuf.next()
              } else advancing = false
            }
          }
          // expire intervals the sweep has passed — single-pass in-place
          // compaction (remove(i) would shift the tail per removal and
          // turn a mass-expiry probe quadratic in the active-set size)
          if (active.nonEmpty) {
            var keep = 0
            var i = 0
            while (i < active.length) {
              if (alive(active(i)._1, lt)) {
                if (keep != i) active(keep) = active(i)
                keep += 1
              }
              i += 1
            }
            if (keep < active.length) active.takeInPlace(keep)
          }
          active.iterator.map { case (_, p) => resultProj(joined(lrow, p)) }
        }
      }
    }
  }
}
