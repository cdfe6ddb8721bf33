package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.core.PanelCols
import graft.kernels.Cluster
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The one pair join of [[Distances]] and the distance-matrix clustering
  * entry points of [[Clustering]] on a panel of three well-separated
  * groups. */
class DistanceMatrixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit val pc: PanelCols = PanelCols()

  private val nSeries = 12
  private val len = 30
  private def group(id: Long): Int = (id % 3).toInt

  /** Series `id` sits at level 10·(id mod 3) plus a sine and a small
    * deterministic per-point noise: within-group DTW ≤ 0.4·len, across
    * groups ≥ 10·len − 0.4·len. */
  private lazy val panel: DataFrame = spark.range(nSeries.toLong * len).select(
    (col("id") / len).cast("long").as("unique_id"),
    timestamp_micros((col("id") % len) * 3600000000L).as("ds"),
    ((col("id") / len).cast("long") % 3 * 10.0 + sin(col("id") % len / lit(4.0)) +
      pmod(xxhash64(col("id")), lit(1000)) / lit(5000.0)).as("y"))

  private def labels(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Same label exactly when same group, for every pair of series. */
  private def recovers(l: Map[Long, Int]): Unit = {
    assert(l.keySet === (0L until nSeries).toSet)
    for (i <- 0L until nSeries; j <- 0L until nSeries)
      assert((l(i) == l(j)) === (group(i) == group(j)), s"series $i vs $j: $l")
  }

  private lazy val groupLabels: DataFrame =
    panel.select("unique_id").distinct().withColumn("cluster", (col("unique_id") % 3).cast("int"))

  /** The matrix and labels the clustering ops compute, built here from
    * the public pieces. */
  private lazy val (ids, matrix) =
    Clustering.collectMatrix(Distances.pairwise(panel, "dtw"), "dtw")
  private lazy val idLabels: Array[Int] = ids.map(id => group(id.toLong))

  test("pairwiseCross names the choices for an unknown metric") {
    val e = intercept[IllegalArgumentException](
      Distances.pairwiseCross(panel, panel, "nope"))
    assert(e.getMessage.contains("Unknown metric 'nope'"))
    assert(e.getMessage.contains("dtw, edr, erp"), e.getMessage)
  }

  test("pairwise, pairwiseMulti and pairwiseCross plan one broadcast nested-loop join") {
    val multi = panel.withColumn("y2", col("y") * 2.0)
    Seq(
      "pairwise" -> Distances.pairwise(panel, "dtw", Map("window" -> 3.0),
        maxDist = Some(50.0), topK = 2),
      "pairwiseMulti" -> Distances.pairwiseMulti(multi, Seq("y", "y2"), "dtw_multi"),
      "pairwiseCross" -> Distances.pairwiseCross(panel, panel, "dtw", topK = 2)
    ).foreach { case (op, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"), s"$op:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$op:\n$plan")
    }
  }

  test("pairwise keeps the upper triangle; topK keeps each left id's nearest") {
    val all = Distances.pairwise(panel, "dtw")
    assert(all.count() === nSeries * (nSeries - 1) / 2)
    assert(all.filter(col("id_1") >= col("id_2")).count() === 0)
    val top = Distances.pairwiseCross(panel, panel, "dtw", topK = 3).collect()
    assert(top.length === nSeries * 3)
    top.foreach(r => assert(group(r.getLong(0)) === group(r.getLong(1)), r))
  }

  /** [[panel]] with its series ids as `Long` (0 until nSeries) or as the
    * `Date` 2024-01-01 plus the id in days, and each typed id's index
    * (dates as `LocalDate`). */
  private def typedPanel(idType: DataType): (DataFrame, Map[Any, Long]) = idType match {
    case LongType => (panel, (0L until nSeries).map(i => (i: Any) -> i).toMap)
    case DateType =>
      val day0 = java.time.LocalDate.of(2024, 1, 1)
      (panel.withColumn("unique_id",
          date_add(lit(day0.toString).cast("date"), col("unique_id").cast("int"))),
        (0L until nSeries).map(i => (day0.plusDays(i): Any) -> i).toMap)
  }

  test("kmedoids, agglomerativeCluster and dbscanCluster recover the three groups") {
    for (idType <- Seq(LongType, DateType)) {
      val (df, index) = typedPanel(idType)
      Seq(Clustering.kmedoids(df, k = 3), Clustering.agglomerativeCluster(df, k = 3),
          Clustering.dbscanCluster(df, eps = 50.0, minPts = 2)).foreach { out =>
        assert(out.schema("unique_id").dataType === idType)
        // the labels are a driver-local frame: reading them starts no job
        val (rows, jobs) = TestSpark.jobsDuring(out.collect())
        assert(jobs === 0, s"$idType: reading the labels started $jobs jobs")
        recovers(rows.map { r =>
          val id = r.get(0) match {
            case d: java.sql.Date => d.toLocalDate
            case v => v
          }
          index(id) -> r.getInt(1)
        }.toMap)
      }
    }
  }

  test("evaluate, silhouetteSamples and calinskiHarabasz equal the Cluster kernels") {
    val ev = Clustering.evaluate(panel, groupLabels).head()
    assert(ev.getDouble(0) === Cluster.silhouette(matrix, idLabels))
    assert(ev.getDouble(1) === Cluster.daviesBouldin(matrix, idLabels))
    assert(Cluster.silhouette(matrix, idLabels) > 0.9)
    val sil = Cluster.silhouetteSamples(matrix, idLabels)
    val samples = Clustering.silhouetteSamples(panel, groupLabels).collect()
    assert(samples.length === nSeries)
    samples.foreach { r =>
      val i = ids.indexOf(r.getLong(0).toString)
      assert(r.getInt(1) === idLabels(i))
      assert(r.getDouble(2) === sil(i))
    }
    assert(Clustering.calinskiHarabasz(panel, groupLabels).head().getDouble(0) ===
      Cluster.calinskiHarabasz(matrix, idLabels))
  }

  test("kmedoids names its jobs and restores the caller's job description") {
    val sc = spark.sparkContext
    panel.count()
    GraftListenerBridge.waitUntilEmpty(sc)
    val seen = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.setJobDescription("caller's own")
    sc.addSparkListener(l)
    try {
      Clustering.kmedoids(panel, k = 3)
      GraftListenerBridge.waitUntilEmpty(sc)
      assert(sc.getLocalProperty("spark.job.description") === "caller's own")
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
    val descs = seen.asScala.toSeq
    assert(descs.nonEmpty)
    descs.foreach(d => assert(d.contains("Clustering.kmedoids"), descs))
  }
}
