package graft.ops

import graft.core.{Panel, PanelCols}
import graft.kernels.DeepModels
import graft.kernels.DeepModels.{ContrastiveCfg, DeepCfg, DeepFit}
import graft.kernels.NeuralNet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deep embedded clustering on Spark — JVM equivalents of the reference's
  * torch tier (deep_cluster.py DEC/IDEC, contrastive.py), previously a
  * documented descope. The torch nets are replaced by the deterministic
  * [[graft.kernels.NeuralNet]] kernel: same architectures and losses,
  * counter-based RNG, hand-written backprop over doubles.
  *
  * Scale split (the kasba/BPE discipline): the FIT collects a bounded,
  * hash-stable sample of series onto the driver — minibatch SGD over a
  * few thousand curves is the algorithm, not a compromise — while the
  * ASSIGNMENT broadcasts the trained eval spec and runs as a narrow
  * per-series map over the full panel: one grouped-panel shuffle, then
  * no shuffle at all, at any corpus size. */
object DeepClustering {

  /** Series collected for a driver-side fit, ordered by STRING id (the
    * reference `_prepare_data` sort, deep_cluster.py:135). Above `cap`
    * series, a hash-ordered stable sample is taken (order insensitive to
    * partitioning, reproducible across engines). */
  def collectSeries(df: DataFrame, cap: Int = 2048)(
      implicit pc: PanelCols): Seq[(String, Array[Double])] = {
    // unconditional hash-ordered top-K: one TakeOrdered job (no count
    // pre-pass to choose a plan); identical membership to an explicit
    // n ≤ cap branch
    Panel.grouped(df)
      .select(pc.idCol.cast("string").as("__id"), col("ys"))
      .orderBy(xxhash64(col("__id")), col("__id")).limit(cap)
      .collect().toSeq
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
  }

  /** Distributed assignment of every panel series to the fit's nearest
    * centroid: pad/normalize with the fit's constants, eval-mode encoder
    * forward, Student-t argmax (= argmin squared distance, first index on
    * ties) — per-series, broadcast weights, no shuffle. */
  def assign(df: DataFrame, fit: DeepFit)(implicit pc: PanelCols): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(fit)
    val assignUdf = udf((ys: Seq[Double]) => {
      val f = bc.value
      val x = NeuralNet.padTo(ys.toArray, f.seqLen).map(v => (v - f.mean) / f.std)
      val z = NeuralNet.evalVector(f.spec, Array(x))
      val (q, _) = DeepModels.studentT(z, f.centroids)
      var best = 0
      var c = 1
      while (c < q.length) { if (q(c) > q(best)) best = c; c += 1 }
      best
    })
    Panel.grouped(df).select(pc.idCol.as(pc.id), col("ys"))
      .select(col(pc.id), assignUdf(col("ys")).as("cluster"))
  }

  /** DEC fit + full-panel assignment; exposes the fit for OraclePins. */
  def decClusterFull(df: DataFrame, cfg: DeepCfg, idec: Boolean)(
      implicit pc: PanelCols): (DataFrame, DeepFit) = {
    val fit = DeepModels.decFit(collectSeries(df).map(_._2), cfg, idec)
    (assign(df, fit), fit)
  }

  /** DEC convenience (reference deep_cluster.py:313-346). */
  def decCluster(df: DataFrame, k: Int, cfg: DeepCfg = DeepCfg())(
      implicit pc: PanelCols): DataFrame =
    decClusterFull(df, cfg.copy(k = k), idec = false)._1

  /** IDEC convenience (reference deep_cluster.py:349-384). */
  def idecCluster(df: DataFrame, k: Int, cfg: DeepCfg = DeepCfg())(
      implicit pc: PanelCols): DataFrame =
    decClusterFull(df, cfg.copy(k = k), idec = true)._1

  /** Contrastive fit + assignment: NT-Xent-trained encoder, k-means
    * centers; assignment is argmin squared distance to the pinned
    * centers (reference contrastive.py:193-224). */
  def contrastiveClusterFull(df: DataFrame, cfg: ContrastiveCfg)(
      implicit pc: PanelCols): (DataFrame, DeepFit) = {
    val fit = DeepModels.contrastiveFit(collectSeries(df).map(_._2), cfg)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(fit)
    val assignUdf = udf((ys: Seq[Double]) => {
      val f = bc.value
      val x = NeuralNet.padTo(ys.toArray, f.seqLen).map(v => (v - f.mean) / f.std)
      val z = NeuralNet.evalVector(f.spec, Array(x))
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < f.centroids.length) {
        var dd = 0.0
        var j = 0
        while (j < z.length) { val t = z(j) - f.centroids(c)(j); dd += t * t; j += 1 }
        if (dd < bd) { bd = dd; best = c }
        c += 1
      }
      best
    })
    val labels = Panel.grouped(df).select(pc.idCol.as(pc.id), col("ys"))
      .select(col(pc.id), assignUdf(col("ys")).as("cluster"))
    (labels, fit)
  }

  def contrastiveCluster(df: DataFrame, k: Int,
      cfg: ContrastiveCfg = ContrastiveCfg())(implicit pc: PanelCols): DataFrame =
    contrastiveClusterFull(df, cfg.copy(k = k))._1
}
