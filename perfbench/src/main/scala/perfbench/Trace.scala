package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds. `parent` is -1 for a
  * root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** The benchmark's spans: pass → leg → construct / plan / execute,
  * recorded from the benchmark's own code around each call
  * into graft, and kept in memory until the run ends. Spark stage spans
  * are added under the phase that submitted them. */
final class Spans {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs
  val all = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = all.size
    all += Span(id, parent, name, startNs, endNs)
    id
  }

  /** Duration minus the union of the child spans' intervals (clipped to
    * the parent). */
  def selfNs: Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Per-stage totals from the Spark listener. */
final class StageRec(val stageId: Int, val tag: String) {
  var submitMs = 0L; var completeMs = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var fetchWaitMs = 0L
  var spillB = 0L; var inputB = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  /** Max minus median task duration: how long the slowest task held
    * the stage up after a typical one finished. */
  def stragglerMs: Long =
    if (taskMs.isEmpty) 0L else {
      val s = taskMs.sorted
      s.last - s(s.size / 2)
    }
}

final case class QueryRec(startMs: Long, exchanges: Int, nativeExecs: Int)

/** A SparkListener plus a QueryExecutionListener, both on public API.
  * Every job the benchmark starts carries the local property
  * `perfbench.tag` = "pass|leg|phase"; stages and tasks inherit it
  * through their job, so attribution needs no timing guesswork. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var markerSeen: String = ""
  @volatile var markerQe: AnyRef = null
  @volatile var markerQeSeen = false
  val jobTags = mutable.Map.empty[Int, String]
  val stages = mutable.Map.empty[Int, StageRec]
  val queries = mutable.ArrayBuffer.empty[QueryRec]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Main.TagKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobTags(e.jobId) = tag
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val tag = jobTags.getOrElse(e.jobId, "")
    if (tag.startsWith("marker|")) markerSeen = tag
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (!stages.contains(id)) stages(id) = new StageRec(id, tagOf(e.properties))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputB += m.inputMetrics.bytesRead
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe eq markerQe) markerQeSeen = true else record(qe, durationNs)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
      else phases.values.map(_.startTimeMs).min
    val plan = qe.executedPlan
    val ex = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val nat = collectWithSubqueries(plan) {
      case n: graft.plans.AsofJoinExec => n
      case n: graft.plans.IntervalJoinExec => n
    }.size
    synchronized { queries += QueryRec(start, ex, nat) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
