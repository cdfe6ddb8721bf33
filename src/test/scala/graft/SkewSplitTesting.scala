package graft

import scala.jdk.CollectionConverters._

import graft.plans.{AsofJoinExec, IntervalJoinExec}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Shared helpers for the query-stage skew split specs. */
object SkewSplitTesting extends AdaptiveSparkPlanHelper {

  /** Spark's skew-join thresholds lowered so a KB-scale hot partition
    * qualifies: any partition above 1 byte and 1.5× the median is
    * skewed, and the split target is the mean non-skewed partition.
    * Broadcasting is off, so a KB-scale interval side stays shuffled
    * and its join has a partition to split. */
  val LowThresholds: Map[String, String] = Map(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  val SkewOff: Map[String, String] =
    Map("spark.sql.adaptive.skewJoin.enabled" -> "false")

  /** Runs `f` with the session confs set, restoring them after. */
  def withConfs[T](spark: SparkSession, confs: Map[String, String])(f: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collects `df` and returns its rows (sorted strings) and the number
    * of native temporal joins in the final plan that ran skew-split. */
  def runSplit(df: DataFrame): (Seq[String], Int) = {
    val rows = df.collect().map(_.toString).sorted.toSeq
    (rows, splitJoins(df.queryExecution.executedPlan))
  }

  def splitJoins(plan: SparkPlan): Int = collect(plan) {
    case j: AsofJoinExec if j.isSkewJoin => j
    case j: IntervalJoinExec if j.isSkewJoin => j
  }.size

  /** Lines logged under `graft.events` while `f` runs. */
  def captureEvents[T](f: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger("graft.events").asInstanceOf[Logger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-events-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val prevLevel = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try {
      val out = f
      (out, lines.asScala.toSeq)
    } finally {
      logger.removeAppender(app)
      logger.setLevel(prevLevel)
      app.stop()
    }
  }
}
