package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeSet, BindReferences, Expression, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution,
  BroadcastMode, ClusteredDistribution, Distribution, Partitioning,
  UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Whole-operator tier, second node: the engine's one interval (range)
  * join. [[graft.ops.TemporalJoins.rangeJoin]] and `rangeJoinNative`
  * build it, and `overlapJoin`/`overlapJoinNative` compose two of them.
  *
  * No interval is exploded: a sweep keeps the intervals overlapping the
  * probe time, so a 30-day interval costs what a 30-second one does.
  *
  * Two distributions, chosen by [[GraftStrategy]] with the size test of
  * Spark's own `JoinSelection`:
  *  - '''broadcast''' when the right side's estimated size is at most
  *    `spark.sql.autoBroadcastJoinThreshold`: the right rows are
  *    collected, sorted by (keys, start) once and broadcast; the left
  *    side keeps its partitioning and gets only a local (keys, time)
  *    sort, with no exchange;
  *  - '''shuffled''' otherwise: both sides hash-partitioned on the keys
  *    and sorted within partitions. A skewed left partition can then be
  *    split against its replicated right partition by
  *    [[SplitSkewedTemporalJoin]].
  *
  * Semantics: inner join of left rows at `leftTimeUs` against right
  * intervals `[startUs, endUs)` (or `[..]` with `inclusiveEnd`) under
  * equal keys; SQL equi-join null semantics (null in any key, time or
  * bound never matches — unlike [[AsofJoin]]'s window-style null
  * grouping).
  *
  * [[PushFilterThroughAsofJoin]] and [[PruneAsofJoinColumns]] cover this
  * node too: every output row carries its left row's columns unchanged,
  * so deterministic left-only predicates commute and a parent Project
  * prunes both children below their exchanges.
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

/** Broadcast of the right side of a broadcast [[IntervalJoinExec]]: the
  * collected rows sorted once, on the driver, in the order the sweep
  * reads them (`order`, bound to the child's output) — as Spark's
  * `HashedRelationBroadcastMode` builds its table once rather than in
  * every task. */
case class SortedRowsBroadcastMode(order: Seq[SortOrder])
  extends BroadcastMode {

  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    rows.sorted(RowOrdering.create(order, Nil))

  override def transform(rows: Iterator[InternalRow],
      sizeHint: Option[Long]): Array[InternalRow] = transform(rows.toArray)

  override def canonicalized: BroadcastMode =
    copy(order = order.map(_.canonicalized.asInstanceOf[SortOrder]))
}

/** Interval join by sweep: left probes in (keys, time) order against
  * right intervals in (keys, start) order, keeping the active set
  * (started, not yet ended). Each right row is read at most once per
  * left partition (a broadcast side jumps over the keys the partition
  * lacks); each emitted pair is produced exactly once.
  * `broadcastRight` picks the distribution (see [[IntervalJoin]]). */
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
    broadcastRight: Boolean = false,
    isSkewJoin: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadAttrs
  override def producedAttributes: AttributeSet = AttributeSet(payloadAttrs)

  private def leftOrder: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTimeUs, Ascending)
  private def rightOrder: Seq[SortOrder] =
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightStartUs, Ascending)

  // skew-split children (SplitSkewedTemporalJoin) are co-partitioned but
  // no longer hash-clustered
  override def requiredChildDistribution: Seq[Distribution] =
    if (isSkewJoin) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else if (broadcastRight) UnspecifiedDistribution :: BroadcastDistribution(
      SortedRowsBroadcastMode(
        BindReferences.bindReferences(rightOrder, right.output))) :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // a broadcast right side is sorted by its broadcast mode
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftOrder, if (broadcastRight) Nil else rightOrder)

  // inner 1:N with left rows emitted in order — left clustering and
  // ordering survive for downstream reuse
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = leftOrder

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

    // one partition: left rows sorted by (keys, time), right by (keys, start)
    val sweep: (Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow] =
      (lIter, rIter) => {
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rBoundsProj = UnsafeProjection.create(Seq(rStartB, rEndB), rOut)
      val payloadProj = UnsafeProjection.create(payloadB, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // a broadcast side holds every key: jump over those before the probe's
      def seek(lk: InternalRow): Unit = rBuf match {
        case c: SortedRowsCursor => c.skipWhile(r => keyOrd.compare(rKeyProj(r), lk) < 0)
        case _ =>
      }

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
            seek(lk)
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

    if (broadcastRight) {
      val rows = right.executeBroadcast[Array[InternalRow]]()
      left.execute().mapPartitions(l => sweep(l, new SortedRowsCursor(rows.value)))
    } else left.execute().zipPartitions(right.execute())(sweep)
  }
}

/** A broadcast right side read forward like an iterator, which can also
  * jump: its rows are sorted, so a predicate that holds on a prefix of
  * the remaining rows is skipped by binary search. */
final class SortedRowsCursor(rows: Array[InternalRow])
  extends BufferedIterator[InternalRow] {
  private var pos = 0
  override def hasNext: Boolean = pos < rows.length
  override def head: InternalRow = rows(pos)
  override def next(): InternalRow = { pos += 1; rows(pos - 1) }

  def skipWhile(prefix: InternalRow => Boolean): Unit = {
    var hi = rows.length
    while (pos < hi) {
      val mid = (pos + hi) >>> 1
      if (prefix(rows(mid))) pos = mid + 1 else hi = mid
    }
  }
}
