package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalescedPartitionSpec,
  ShufflePartitionSpec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  ShufflePartitionsUtil, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage skew split for the native temporal joins
  * ([[AsofJoinExec]], [[IntervalJoinExec]]) — the left-outer pattern of
  * Spark's `OptimizeSkewedJoin`, which only rewrites SortMergeJoinExec.
  *
  * Runs among AQE's query-stage preparation rules, after both shuffle
  * stages under a join have materialized. It reads their
  * `MapOutputStatistics`, and every LEFT (probe) partition larger than
  * Spark's skew threshold — `max(skewedPartitionThresholdInBytes,
  * median × skewedPartitionFactor)` — is split by map ranges
  * (`createSkewPartitionSpecs`, target size as in OptimizeSkewedJoin).
  * Each split is paired with the WHOLE matching right partition. That is
  * exact for both operators: they are left-preserving (AsofJoin 1:1,
  * IntervalJoin 1:N), and each left row's output depends only on the
  * right rows of its own key, all of which sit in the replicated right
  * partition. The right side is never split.
  *
  * No graft setting: `spark.sql.adaptive.skewJoin.enabled` and the
  * `skewJoin.*` thresholds decide. A split that would break a parent's
  * distribution inside the same stage (the split output is no longer
  * hash-clustered) is dropped, as OptimizeSkewedJoin drops it, so the
  * rule never adds a shuffle. Nothing runs while a DataFrame is built:
  * the decision is made from shuffle statistics the query already
  * produced.
  *
  * Each split decision logs one line under the `graft.events` logger
  * (INFO): operator, left partition bytes (median, max), threshold,
  * skewed partitions, split count and whether the split was kept.
  */
object SplitSkewedTemporalJoin extends Rule[SparkPlan] {

  private val events = org.slf4j.LoggerFactory.getLogger("graft.events")

  // AQE re-runs the preparation rules on every re-optimization; the tag
  // on the left stage keeps the event to one line per decision
  private val Logged = TreeNodeTag[Boolean]("graft.skewSplitLogged")

  private final case class Decision(op: String, left: ShuffleQueryStageExec,
      medianBytes: Long, maxBytes: Long, thresholdBytes: Long,
      skewed: Int, splits: Int)

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.getConf(SQLConf.SKEW_JOIN_ENABLED)) return plan
    val decisions = ArrayBuffer.empty[Decision]
    val split = plan.transformUp {
      case j: AsofJoinExec if !j.isSkewJoin =>
        splitChildren("AsofJoinExec", j.left, j.right, decisions)
          .map { case (l, r) => j.copy(left = l, right = r, isSkewJoin = true) }
          .getOrElse(j)
      // a broadcast interval join has no shuffle partition to split
      case j: IntervalJoinExec if !j.isSkewJoin && !j.broadcastRight =>
        splitChildren("IntervalJoinExec", j.left, j.right, decisions)
          .map { case (l, r) => j.copy(left = l, right = r, isSkewJoin = true) }
          .getOrElse(j)
    }
    if (decisions.isEmpty) return plan
    val kept = ValidateRequirements.validate(split)
    decisions.foreach { d =>
      if (d.left.getTagValue(Logged).isEmpty) {
        d.left.setTagValue(Logged, true)
        events.info(s"""{"event":"skew_split","op":"${d.op}",""" +
          s""""median_bytes":${d.medianBytes},"max_bytes":${d.maxBytes},""" +
          s""""threshold_bytes":${d.thresholdBytes},""" +
          s""""skewed_partitions":${d.skewed},"splits":${d.splits},""" +
          s""""kept":$kept}""")
      }
    }
    if (kept) split else plan
  }

  private def ready(s: ShuffleQueryStageExec): Boolean =
    s.isMaterialized && s.mapStats.isDefined &&
      s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS

  /** New (left, right) children with the skewed left partitions split,
    * or None when no left partition is skewed. */
  private def splitChildren(op: String, left: SparkPlan, right: SparkPlan,
      decisions: ArrayBuffer[Decision]): Option[(SparkPlan, SparkPlan)] =
    (left, right) match {
      case (ls @ SortExec(_, _, l: ShuffleQueryStageExec, _),
            rs @ SortExec(_, _, r: ShuffleQueryStageExec, _))
          if ready(l) && ready(r) =>
        val lStats = l.mapStats.get
        val lSizes = lStats.bytesByPartitionId
        val rSizes = r.mapStats.get.bytesByPartitionId
        if (lSizes.length != rSizes.length) return None
        val sorted = lSizes.sorted
        val n = sorted.length
        val median = math.max(1L,
          if (n % 2 == 0) (sorted(n / 2) + sorted(n / 2 - 1)) / 2
          else sorted(n / 2))
        val threshold = math.max(
          conf.getConf(SQLConf.SKEW_JOIN_SKEWED_PARTITION_THRESHOLD),
          (median * conf.getConf(SQLConf.SKEW_JOIN_SKEWED_PARTITION_FACTOR))
            .toLong)
        val nonSkewed = lSizes.filter(_ <= threshold)
        val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        val target =
          if (nonSkewed.isEmpty) advisory
          else math.max(advisory, nonSkewed.sum / nonSkewed.length)
        val lSpecs = ArrayBuffer.empty[ShufflePartitionSpec]
        val rSpecs = ArrayBuffer.empty[ShufflePartitionSpec]
        var skewed = 0
        var splits = 0
        lSizes.indices.foreach { p =>
          val parts =
            (if (lSizes(p) > threshold)
              ShufflePartitionsUtil.createSkewPartitionSpecs(
                lStats.shuffleId, p, target)
            else None).getOrElse(
              Seq(CoalescedPartitionSpec(p, p + 1, Some(lSizes(p)))))
          if (parts.size > 1) { skewed += 1; splits += parts.size }
          parts.foreach { s =>
            lSpecs += s
            rSpecs += CoalescedPartitionSpec(p, p + 1, Some(rSizes(p)))
          }
        }
        if (skewed == 0) None
        else {
          decisions += Decision(op, l, median, sorted.last, threshold,
            skewed, splits)
          Some((ls.withNewChildren(Seq(AQEShuffleReadExec(l, lSpecs.toSeq))),
            rs.withNewChildren(Seq(AQEShuffleReadExec(r, rSpecs.toSeq)))))
        }
      case _ => None
    }
}
