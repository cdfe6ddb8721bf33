package graft.ops

import graft.core.{Panel, PanelCols}
import graft.kernels.Elastic
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise elastic-distance harness (reference src/utils.rs:168-234
  * `compute_pairwise` + the per-kernel entry points).
  *
  * Spark shape: grouped form (one shuffle) → broadcast nested-loop join
  * with `id_1 < id_2` (symmetric dedup, half the work — utils.rs:222-229)
  * → pure-Scala DP kernel as a deterministic UDF. The reference's Rayon
  * pair-parallelism becomes task parallelism over the streamed side.
  *
  * The grouped panel is always broadcast. It grows with n (n series of m
  * points cost n·m·8 bytes: 10⁴ × 480 points ≈ 38 MB), while the
  * all-pairs kernel work grows with n² (≥ 5·10⁷ DP calls at 10⁴ series),
  * and the distance-matrix ops of [[Clustering]] collect the full n×n
  * matrix to the driver. Building a result starts no Spark job.
  *
  * Scale path (SURVEY §7.5 risk #7): `maxDist` (with its LB_Keogh
  * pre-filter for banded DTW) drops far pairs, and `topK` caps the
  * O(n²) output per left series.
  */
object Distances {

  val univariate: Map[String, (Array[Double], Array[Double], Map[String, Double]) => Double] = Map(
    "dtw" -> ((a, b, p) => p.get("window") match {
      case Some(w) => Elastic.dtwSakoeChiba(a, b, w.toInt)
      case None => p.get("max_slope") match {
        case Some(s) => Elastic.dtwItakura(a, b, s)
        case None => p.get("radius") match {
          case Some(r) => Elastic.fastDtw(a, b, r.toInt)
          case None => Elastic.dtw(a, b)
        }
      }
    }),
    "ddtw" -> ((a, b, _) => Elastic.ddtw(a, b)),
    "wdtw" -> ((a, b, p) => Elastic.wdtw(a, b, p.getOrElse("g", 0.05))),
    "msm" -> ((a, b, p) => Elastic.msm(a, b, p.getOrElse("c", 1.0))),
    "erp" -> ((a, b, p) => Elastic.erp(a, b, p.getOrElse("g", 0.0))),
    "lcss" -> ((a, b, p) => Elastic.lcss(a, b, p.getOrElse("epsilon", 1.0))),
    "twe" -> ((a, b, p) => Elastic.twe(a, b, p.getOrElse("nu", 0.001), p.getOrElse("lambda", 1.0))),
    "sbd" -> ((a, b, _) => Elastic.sbd(a, b)),
    "frechet" -> ((a, b, _) => Elastic.frechet(a, b)),
    "edr" -> ((a, b, p) => Elastic.edr(a, b, p.getOrElse("epsilon", 0.1))))

  /** Univariate distance UDF. Array[Double] (not Seq[Double]) parameters:
    * one primitive toDoubleArray copy per input instead of boxing every
    * element — the same ~70%-of-wall-time lesson as the cosine UDF
    * (Similarity). */
  private def distUdf(metric: String, params: Map[String, Double]) = {
    val kernel = univariate.getOrElse(metric, throw new IllegalArgumentException(
      s"Unknown metric '$metric'. Choose from ${univariate.keys.toSeq.sorted.mkString(", ")}"))
    udf((a: Array[Double], b: Array[Double]) => kernel(a, b, params))
  }

  /** The one pair join, left aliased `a` and right `b`: the right
    * (grouped, small) side is broadcast, and the streamed side is
    * repartitioned round-robin (guide §1.2 step 1 + §2.5). Without the
    * repartition, AQE's partition coalescing folds the few-hundred-KB
    * grouped panel to ONE partition, and the O(n·m)-per-pair DP kernel
    * runs on one core (measured r12: pairwise_dtw_band_500x100 wall
    * 2.42 s, cpu 5.24 s on 32 cores). A repartition is exempt from AQE
    * coalescing and costs one tiny exchange of grouped rows. */
  private def pairJoin(left: DataFrame, right: DataFrame, on: Column): DataFrame =
    left.repartition(left.sparkSession.sparkContext.defaultParallelism).as("a")
      .join(broadcast(right).as("b"), on)

  /** Each `id_1`'s `topK` nearest partners (ties by `id_2`); all pairs
    * when `topK` is 0. */
  private def nearest(pairs: DataFrame, metric: String, topK: Int): DataFrame =
    if (topK > 0)
      pairs.withColumn("__rk", row_number().over(
          Window.partitionBy(col("id_1")).orderBy(col(metric).asc, col("id_2"))))
        .filter(col("__rk") <= topK).drop("__rk")
    else pairs

  /** Pairwise distances within one panel: `[id_1, id_2, <metric>]`,
    * upper triangle only.
    *
    * Scale valves:
    *  - `maxDist` drops pairs whose distance exceeds the cutoff — and for
    *    banded DTW first rejects on the O(n) LB_Keogh envelope bound, so
    *    most far pairs never run the O(n·w) DP at all.
    *  - `topK` keeps only each left series' k nearest partners. */
  def pairwise(df: DataFrame, metric: String,
      params: Map[String, Double] = Map.empty,
      maxDist: Option[Double] = None,
      topK: Int = 0)(implicit pc: PanelCols): DataFrame = {
    val dist = distUdf(metric, params)
    val g0 = Panel.grouped(df).select(pc.idCol, col("ys"))
    // LB_Keogh prefilter is sound for the Sakoe-Chiba DTW kernel (L1 cost)
    val lbWindow = if (metric == "dtw") params.get("window").map(_.toInt) else None
    val useLb = maxDist.isDefined && lbWindow.isDefined
    val g = if (useLb) {
      val w = lbWindow.get
      val envUdf = udf((ys: Array[Double]) => Elastic.envelope(ys, w))
      g0.withColumn("__env", envUdf(col("ys")))
    } else g0
    val joined = pairJoin(g, g, col(s"a.${pc.id}") < col(s"b.${pc.id}"))
    val pruned = if (useLb) {
      val lbUdf = udf((a: Array[Double], env: Array[Double]) =>
        Elastic.lbKeogh(a, env))
      joined.filter(lbUdf(col("a.ys"), col("b.__env")) <= maxDist.get)
    } else joined
    val withD = pruned
      .select(col(s"a.${pc.id}").as("id_1"), col(s"b.${pc.id}").as("id_2"),
        dist(col("a.ys"), col("b.ys")).as(metric))
    val cut = maxDist.map(t => withD.filter(col(metric) <= t)).getOrElse(withD)
    nearest(cut, metric, topK)
  }

  /** Multivariate pairwise distances (`dtw_multi` manhattan/euclidean,
    * `msm_multi` dependent-cost — reference src/dtw_multi.rs, msm_multi.rs)
    * over `channels` value columns: grouped wide form
    * `Array[Array[Double]]` (time-major), same join shape as univariate. */
  def pairwiseMulti(df: DataFrame, channels: Seq[String], metric: String,
      params: Map[String, Double] = Map.empty)(implicit pc: PanelCols): DataFrame = {
    val kernel: (Array[Array[Double]], Array[Array[Double]]) => Double = metric match {
      case "dtw_multi" =>
        val euclid = params.get("euclidean").exists(_ != 0.0)
        (a, b) => Elastic.dtwMulti(a, b, euclid)
      case "msm_multi" =>
        val c = params.getOrElse("c", 1.0)
        (a, b) => Elastic.msmMulti(a, b, c)
      case other => throw new IllegalArgumentException(s"Unknown multivariate metric '$other'")
    }
    val dist = udf((a: Seq[Seq[Double]], b: Seq[Seq[Double]]) =>
      kernel(a.map(_.toArray).toArray, b.map(_.toArray).toArray))
    val fields = (pc.timeCol.as("__t") +: pc.tieBreak.zipWithIndex.map {
      case (c, i) => col(c).as(s"__tb$i")
    }) :+ array(channels.map(c => col(c).cast("double")): _*).as("__v")
    val g = df.groupBy(pc.idCol)
      .agg(sort_array(collect_list(struct(fields: _*))).as("__pts"))
      .select(pc.idCol, col("__pts.__v").as("vs"))
    pairJoin(g, g, col(s"a.${pc.id}") < col(s"b.${pc.id}"))
      .select(col(s"a.${pc.id}").as("id_1"), col(s"b.${pc.id}").as("id_2"),
        dist(col("a.vs"), col("b.vs")).as(metric))
  }

  /** Cross-panel pairwise (train vs test), all pairs:
    * `[id_1 (left), id_2 (right), <metric>]`; optional per-left top-k
    * neighbor pruning — the scale valve the reference lacks. */
  def pairwiseCross(left: DataFrame, right: DataFrame, metric: String,
      params: Map[String, Double] = Map.empty, topK: Int = 0)(
      implicit pc: PanelCols): DataFrame = {
    val dist = distUdf(metric, params)
    val gl = Panel.grouped(left).select(pc.idCol.as("id_1"), col("ys").as("__ys1"))
    val gr = Panel.grouped(right).select(pc.idCol.as("id_2"), col("ys").as("__ys2"))
    nearest(pairJoin(gl, gr, col("id_1") =!= col("id_2"))
      .select(col("id_1"), col("id_2"), dist(col("__ys1"), col("__ys2")).as(metric)),
      metric, topK)
  }
}
