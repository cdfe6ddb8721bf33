package graft.ops

import graft.core.PanelCols
import graft.kernels.Cluster
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Panel clustering: distributed pairwise distances → small n×n matrix on
  * the driver → label table back as a DataFrame (reference §2.12 operates
  * the same way single-node; n = series count, not row count).
  */
object Clustering {

  /** Collect a symmetric distance matrix from an upper-triangle pair table
    * `[id_1, id_2, metricCol]`. Returns (sorted ids, matrix). */
  def collectMatrix(pairs: DataFrame, metricCol: String): (Array[String], Array[Array[Double]]) = {
    val rows = pairs.select(col("id_1").cast("string"), col("id_2").cast("string"),
      col(metricCol).cast("double")).collect()
    val ids = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val m = Array.fill(n, n)(0.0)
    rows.foreach { r =>
      val i = idx(r.getString(0)); val j = idx(r.getString(1)); val d = r.getDouble(2)
      m(i)(j) = d; m(j)(i) = d
    }
    (ids, m)
  }

  /** The n×n matrix of [[Distances.pairwise]], collected to the driver
    * under the job description `graft Clustering.<op>: distance matrix`;
    * the thread's previous description is restored. */
  private[graft] def distanceMatrix(op: String, df: DataFrame, metric: String,
      params: Map[String, Double] = Map.empty)(implicit pc: PanelCols): (Array[String], Array[Array[Double]]) = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description") // set by setJobDescription
    sc.setJobDescription(s"graft Clustering.$op: distance matrix")
    try collectMatrix(Distances.pairwise(df, metric, params), metric)
    finally sc.setJobDescription(prev)
  }

  /** [[distanceMatrix]] plus each id's label in `labelsDf` (−1 when
    * absent), also collected to the driver. */
  private def labeledMatrix(op: String, df: DataFrame, labelsDf: DataFrame, metric: String,
      params: Map[String, Double])(implicit pc: PanelCols) = {
    val (ids, m) = distanceMatrix(op, df, metric, params)
    val lmap = labelsDf.select(pc.idCol.cast("string"), col("cluster"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    (ids, m, ids.map(lmap.getOrElse(_, -1)))
  }

  /** `byId`, a driver-local frame keyed by the string id `__id_str`, as
    * `[id, <byId's other columns>]`: the string id (as [[collectMatrix]]
    * read it) is cast back to the type of `df`'s id column, so the result
    * is still a local frame and never rescans the panel. The row order of
    * `byId` is kept. */
  private def typedIds(df: DataFrame, byId: DataFrame)(implicit pc: PanelCols): DataFrame =
    byId.select(col("__id_str").cast(df.select(pc.idCol).schema.head.dataType).as(pc.id) +:
      byId.columns.filter(_ != "__id_str").toSeq.map(col): _*)

  private def labelFrame(df: DataFrame, ids: Array[String], labels: Array[Int])(
      implicit pc: PanelCols): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    typedIds(df, ids.zip(labels).toSeq.toDF("__id_str", "cluster"))
  }

  /** `[id, cluster]` from `fit` over the distance matrix. */
  private def matrixLabels(op: String, df: DataFrame, metric: String,
      params: Map[String, Double])(fit: Array[Array[Double]] => Array[Int])(
      implicit pc: PanelCols): DataFrame = {
    val (ids, m) = distanceMatrix(op, df, metric, params)
    labelFrame(df, ids, fit(m))
  }

  /** K-medoids (PAM) labels `[id, cluster]` over any pairwise metric.
    * Eager: collects the n×n distance matrix to the driver (Spark jobs). */
  def kmedoids(df: DataFrame, k: Int, metric: String = "dtw",
      params: Map[String, Double] = Map.empty, seed: Long = 42L,
      init: Option[Array[Int]] = None)(implicit pc: PanelCols): DataFrame =
    matrixLabels("kmedoids", df, metric, params)(Cluster.pam(_, k, seed, init = init)._1)

  /** DBSCAN labels (−1 = noise). Eager: collects the n×n distance matrix
    * to the driver (Spark jobs). */
  def dbscanCluster(df: DataFrame, eps: Double, minPts: Int,
      metric: String = "dtw", params: Map[String, Double] = Map.empty)(
      implicit pc: PanelCols): DataFrame =
    matrixLabels("dbscanCluster", df, metric, params)(Cluster.dbscan(_, eps, minPts))

  /** Agglomerative labels cut at k. Eager: collects the n×n distance
    * matrix to the driver (Spark jobs). */
  def agglomerativeCluster(df: DataFrame, k: Int, linkage: String = "average",
      metric: String = "dtw", params: Map[String, Double] = Map.empty)(
      implicit pc: PanelCols): DataFrame =
    matrixLabels("agglomerativeCluster", df, metric, params)(
      Cluster.agglomerative(_, k, linkage))

  /** Distributed k-Shape (reference clustering/kshape.py:9-160): z-norm,
    * SBD assignment and alignment run on executors; only the k per-cluster
    * len×len Gram matrices (for the dominant-eigenvector centroid) ever
    * reach the driver — the raw series never do, so the algorithm scales
    * with the number of series, bounded by len², not n·len.
    *
    * Per iteration: broadcast k centroids → assignment UDF → one
    * treeAggregate of Σ alignedᵢ·alignedᵢᵀ + Σ alignedᵢ per cluster →
    * driver power-iteration on the k small matrices. Deterministic init:
    * the first k series by id. */
  def kshapeCluster(df: DataFrame, k: Int, maxIter: Int = 20)(
      implicit pc: PanelCols): DataFrame = kshapeFitFull(df, k, maxIter)._1

  /** k-Shape fit exposing the verification surface: (labels, minLen,
    * centroids used for the FINAL assignment). The pinned oracle
    * (ClusterOracles.kshapeSql) inlines those centroids and replays only
    * the z-norm + argmin-SBD assignment in SQL; labels == that argmin by
    * construction because the loop assigns before it updates. */
  def kshapeFitFull(df: DataFrame, k: Int, maxIter: Int = 20)(
      implicit pc: PanelCols): (DataFrame, Int, Array[Array[Double]]) = {
    val spark = df.sparkSession
    val g = graft.core.Panel.grouped(df).select(pc.idCol.as("__id"), col("ys"))
    val minLen = g.agg(min(size(col("ys")))).head().getInt(0)
    val zUdf = udf((ys: Seq[Double]) => Cluster.zNorm(ys.toArray.take(minLen)))
    val z = g.select(col("__id"), zUdf(col("ys")).as("__z")).cache()
    var centroids = z.orderBy(col("__id")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    var lastAssign = centroids
    var labels: DataFrame = null
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val bc = spark.sparkContext.broadcast(centroids)
      lastAssign = centroids
      val assignUdf = udf((zs: Seq[Double]) => {
        val arr = zs.toArray
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val d = graft.kernels.Elastic.sbd(arr, cs(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      })
      val newLabels = z.withColumn("cluster", assignUdf(col("__z"))).cache()
      newLabels.count() // materialize before comparing / aggregating
      changed = labels == null ||
        newLabels.as("a").join(labels.as("b"), "__id")
          .filter(col("a.cluster") =!= col("b.cluster")).limit(1).count() > 0
      if (labels != null) labels.unpersist()
      labels = newLabels
      if (changed) {
        val len = minLen
        val kk = k
        // per-cluster Gram (len²) + mean (len) + count, combined map-side:
        // the shuffle is k·(len²+len) doubles per partition, never a series
        val zero = (Array.ofDim[Double](kk, len * len),
          Array.ofDim[Double](kk, len), new Array[Long](kk))
        val (gram, sums, counts) = newLabels.select(col("cluster"), col("__z"))
          .rdd.treeAggregate(zero)(
            { case ((m, s, cnt), row) =>
              val c = row.getInt(0)
              val a = Cluster.alignTo(bc.value(c), row.getSeq[Double](1).toArray)
              var i = 0
              while (i < len) {
                val ai = a(i); val base = i * len
                var j = 0
                while (j < len) { m(c)(base + j) += ai * a(j); j += 1 }
                s(c)(i) += ai
                i += 1
              }
              cnt(c) += 1
              (m, s, cnt)
            },
            { case ((m1, s1, c1), (m2, s2, c2)) =>
              var c = 0
              while (c < kk) {
                var i = 0
                while (i < len * len) { m1(c)(i) += m2(c)(i); i += 1 }
                i = 0
                while (i < len) { s1(c)(i) += s2(c)(i); i += 1 }
                c1(c) += c2(c)
                c += 1
              }
              (m1, s1, c1)
            })
        centroids = Array.tabulate(kk) { c =>
          if (counts(c) == 0) centroids(c)
          else {
            val m = gram(c)
            var v = centroids(c).clone()
            if (v.forall(_ == 0.0)) v = Array.fill(len)(1.0 / math.sqrt(len.toDouble))
            var p = 0
            while (p < 15) {
              val mv = new Array[Double](len)
              var i = 0
              while (i < len) {
                var dot = 0.0; val base = i * len
                var j = 0
                while (j < len) { dot += m(base + j) * v(j); j += 1 }
                mv(i) = dot
                i += 1
              }
              val norm = math.sqrt(mv.map(x => x * x).sum)
              if (norm > 0) { var j = 0; while (j < len) { v(j) = mv(j) / norm; j += 1 } }
              p += 1
            }
            // sign convention: positive correlation with the cluster mean
            var dot = 0.0
            var j = 0
            while (j < len) { dot += v(j) * sums(c)(j); j += 1 }
            if (dot < 0) v.map(-_) else v
          }
        }
      }
      it += 1
    }
    val out = labels.select(col("__id").as(pc.id), col("cluster"))
    z.unpersist()
    (out, minLen, lastAssign)
  }

  private def fixedLenSeries(df: DataFrame)(implicit pc: PanelCols) = {
    val g = graft.core.Panel.grouped(df).select(pc.idCol.as("__id"), col("ys"))
    val minLen = g.agg(min(size(col("ys")))).head().getInt(0)
    val cut = udf((ys: Seq[Double]) => ys.toArray.take(minLen))
    (g.select(col("__id"), cut(col("ys")).as("__z")).cache(), minLen)
  }

  /** Elastic k-means++ seeding (reference src/kasba init.rs), distance-
    * generic: next center sampled ∝ min distance to chosen centers via the
    * exponential-race trick (argmin of −ln(u)/d with seeded per-id u) —
    * one distributed pass per center, no driver-side cumsum. */
  private def elasticKppInit(z: DataFrame, k: Int, seed: Long,
      dist: (Array[Double], Array[Double]) => Double): Array[Array[Double]] = {
    val spark = z.sparkSession
    val first = z.orderBy(xxhash64(col("__id").cast("string"), lit(seed)))
      .limit(1).collect()(0).getSeq[Double](1).toArray
    var centers = Array(first)
    for (round <- 1 until k) {
      val bc = spark.sparkContext.broadcast(centers)
      val minD = udf((zs: Seq[Double]) => {
        val arr = zs.toArray
        var bd = Double.MaxValue
        var i = 0
        while (i < bc.value.length) {
          val d = dist(arr, bc.value(i))
          if (d < bd) bd = d
          i += 1
        }
        bd
      })
      val u = (pmod(xxhash64(col("__id").cast("string"), lit(seed + round)),
        lit(1000000L)).cast("double") + 0.5) / 1000000.0
      val next = z.withColumn("__d", minD(col("__z")))
        .withColumn("__key",
          when(col("__d") > 0.0, -log(u) / col("__d")).otherwise(lit(Double.MaxValue)))
        .orderBy(col("__key")).limit(1).collect()(0)
        .getSeq[Double](1).toArray
      centers = centers :+ next
    }
    centers
  }

  /** Distributed time-series k-means with DBA centroids (reference
    * clustering/kmeans.py:19-160 + dba.py): DTW assignment on executors
    * (broadcast centroids); each DBA refinement is ONE treeAggregate of
    * per-centroid-position (sum, count) path contributions — k·len doubles
    * per partition reach the driver, never a series. `dbaIters` refinement
    * sweeps run per k-means iteration (the reference runs its full 30-pass
    * DBA per update; at cluster scale each sweep is a panel pass, so the
    * count is a dial). */
  def kmeansDba(df: DataFrame, k: Int, maxIter: Int = 10, dbaIters: Int = 3,
      seed: Long = 42L)(implicit pc: PanelCols): DataFrame =
    kmeansDbaFitFull(df, k, maxIter, dbaIters, seed)._1

  /** DBA k-means fit exposing (labels, minLen, centroids used for the
    * final assignment) — the pinned-oracle surface (see kshapeFitFull). */
  def kmeansDbaFitFull(df: DataFrame, k: Int, maxIter: Int = 10, dbaIters: Int = 3,
      seed: Long = 42L)(implicit pc: PanelCols): (DataFrame, Int, Array[Array[Double]]) = {
    val spark = df.sparkSession
    val (z, minLen) = fixedLenSeries(df)
    var centroids = elasticKppInit(z, k, seed, (a, b) => graft.kernels.Elastic.dtw(a, b))
    var lastAssign = centroids
    var labels: DataFrame = null
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val bc = spark.sparkContext.broadcast(centroids)
      lastAssign = centroids
      val assign = udf((zs: Seq[Double]) => {
        val arr = zs.toArray
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val d = graft.kernels.Elastic.dtw(arr, cs(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      })
      val newLabels = z.withColumn("cluster", assign(col("__z"))).cache()
      newLabels.count()
      changed = labels == null ||
        newLabels.as("a").join(labels.as("b"), "__id")
          .filter(col("a.cluster") =!= col("b.cluster")).limit(1).count() > 0
      if (labels != null) labels.unpersist()
      labels = newLabels
      if (changed) {
        val len = minLen
        val kk = k
        for (_ <- 0 until dbaIters) {
          val bcC = spark.sparkContext.broadcast(centroids)
          val zero = (Array.ofDim[Double](kk, len), Array.ofDim[Double](kk, len))
          val (tot, cnt) = newLabels.select(col("cluster"), col("__z"))
            .rdd.treeAggregate(zero)(
              { case ((t, n), row) =>
                val c = row.getInt(0)
                val s = row.getSeq[Double](1).toArray
                val path = graft.kernels.Barycenter.dtwPathSq(bcC.value(c), s)
                var p = 0
                while (p < path.length) {
                  val (ci, si) = path(p)
                  t(c)(ci) += s(si); n(c)(ci) += 1.0
                  p += 1
                }
                (t, n)
              },
              { case ((t1, n1), (t2, n2)) =>
                var c = 0
                while (c < kk) {
                  var i = 0
                  while (i < len) { t1(c)(i) += t2(c)(i); n1(c)(i) += n2(c)(i); i += 1 }
                  c += 1
                }
                (t1, n1)
              })
          centroids = Array.tabulate(kk)(c =>
            Array.tabulate(len)(i => if (cnt(c)(i) > 0) tot(c)(i) / cnt(c)(i) else 0.0))
          bcC.destroy()
        }
      }
      it += 1
    }
    val out = labels.select(col("__id").as(pc.id), col("cluster"))
    z.unpersist()
    (out, minLen, lastAssign)
  }

  /** KASBA clustering (reference clustering/kasba.py:16-120 + the
    * src/kasba rust core): MSM metric, elastic k-means++ init, triangle-
    * inequality-pruned assignment, stochastic-subgradient barycenters.
    *
    * Spark split: init + assignment run on executors (centroids and the
    * k×k centroid-distance matrix broadcast; Elkan bound skips most MSM
    * evaluations); the SSG barycenter refinement is inherently sequential,
    * so it runs on the driver over each cluster's stochastic subset — the
    * subset (≤ `subsetCap` series per cluster, the algorithm's own
    * ba_subset_size sampling) is the only series data the driver touches.
    * k-means++ seeding samples ∝ distance in one distributed pass via the
    * exponential-race trick (argmin of −ln(u)/d with seeded per-id u). */
  def kasbaCluster(df: DataFrame, k: Int, c: Double = 1.0, maxIter: Int = 10,
      baSubsetSize: Double = 0.5, initialStepSize: Double = 0.05,
      decayRate: Double = 0.1, subsetCap: Int = 512, seed: Long = 42L)(
      implicit pc: PanelCols): DataFrame =
    kasbaFitFull(df, k, c, maxIter, baSubsetSize, initialStepSize,
      decayRate, subsetCap, seed)._1

  /** KASBA fit exposing (labels, minLen, centers used for the final
    * assignment) — the pinned-oracle surface (see kshapeFitFull). The
    * Elkan-pruned assignment is exact for the MSM metric, so the SQL
    * replay is a plain argmin over the pinned centers. */
  def kasbaFitFull(df: DataFrame, k: Int, c: Double = 1.0, maxIter: Int = 10,
      baSubsetSize: Double = 0.5, initialStepSize: Double = 0.05,
      decayRate: Double = 0.1, subsetCap: Int = 512, seed: Long = 42L)(
      implicit pc: PanelCols): (DataFrame, Int, Array[Array[Double]]) = {
    val spark = df.sparkSession
    val (z, minLen) = fixedLenSeries(df)
    val rng = new scala.util.Random(seed)

    // ── elastic k-means++ (init.rs): weighted by min MSM distance ──────
    var centers = elasticKppInit(z, k, seed,
      (a, b) => graft.kernels.Elastic.msm(a, b, c))
    var lastAssign = centers

    var labels: DataFrame = null
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      // ── assignment with Elkan pruning (assign.rs:fast_assign) ─────────
      val ccd = Array.tabulate(k, k)((i, j) =>
        if (i == j) 0.0 else graft.kernels.Elastic.msm(centers(i), centers(j), c))
      val bcC = spark.sparkContext.broadcast(centers)
      val bcD = spark.sparkContext.broadcast(ccd)
      lastAssign = centers
      // The incumbent distance is re-evaluated against the CURRENT center
      // (the reference's fast_assign carries the stale previous-iteration
      // bound, saving one MSM eval but making labels history-dependent);
      // with a fresh incumbent the Elkan skip stays exact, so the final
      // labels are a pure argmin over the final centers — the property
      // the pinned oracle (ClusterOracles.kasbaSql) replays.
      val assign = udf((zs: Seq[Double], prevLabel: Int) => {
        val arr = zs.toArray
        val cs = bcC.value
        val dd = bcD.value
        var closest = if (prevLabel >= 0) prevLabel else 0
        var minDist = graft.kernels.Elastic.msm(arr, cs(closest), c)
        var j = 0
        while (j < cs.length) {
          val skip = j == closest || minDist < dd(j)(closest) / 2.0
          if (!skip) {
            val d = graft.kernels.Elastic.msm(arr, cs(j), c)
            if (d < minDist) { minDist = d; closest = j }
          }
          j += 1
        }
        (closest, minDist)
      })
      val prev = if (labels == null) z.withColumn("__pl", lit(-1))
        else z.join(labels.select(col("__id"), col("cluster").as("__pl")), "__id")
      val newLabels = prev
        .withColumn("__a", assign(col("__z"), col("__pl")))
        .select(col("__id"), col("__z"), col("__a._1").as("cluster"),
          col("__a._2").as("__dist"))
        .cache()
      newLabels.count()
      changed = labels == null ||
        newLabels.as("a").join(labels.as("b"), "__id")
          .filter(col("a.cluster") =!= col("b.cluster")).limit(1).count() > 0
      if (labels != null) labels.unpersist()
      labels = newLabels
      if (changed) {
        // ── SSG barycenter per cluster over its stochastic subset ───────
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))
          .orderBy(xxhash64(col("__id").cast("string"), lit(seed + 100 + it)))
        val sampled = newLabels
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= subsetCap)
          .select(col("cluster"), col("__z"), col("__dist"))
          .collect()
        val byCluster = sampled.groupBy(_.getInt(0))
        centers = Array.tabulate(k) { ci =>
          byCluster.get(ci) match {
            case Some(rows) if rows.nonEmpty =>
              val members = rows.map(_.getSeq[Double](1).toArray).toIndexedSeq
              val prevCost = rows.map(_.getDouble(2)).sum
              graft.kernels.Barycenter.kasbaAverage(members, centers(ci),
                prevCost, baSubsetSize = baSubsetSize,
                initialStepSize = initialStepSize, decayRate = decayRate,
                c = c, rng = rng)
            case _ =>
              // empty-cluster recovery (empty_cluster.rs): re-seed from the
              // globally furthest series
              newLabels.orderBy(col("__dist").desc).limit(1)
                .collect()(0).getSeq[Double](1).toArray
          }
        }
      }
      it += 1
    }
    val out = labels.select(col("__id").as(pc.id), col("cluster"))
    z.unpersist()
    (out, minLen, lastAssign)
  }

  /** Clustering quality summary `[silhouette, davies_bouldin]` for a
    * fitted labeling (reference clustering/evaluation.py). Eager: collects
    * the n×n distance matrix and `labelsDf` to the driver (Spark jobs). */
  def evaluate(df: DataFrame, labelsDf: DataFrame, metric: String = "dtw",
      params: Map[String, Double] = Map.empty)(implicit pc: PanelCols): DataFrame = {
    val (_, m, labels) = labeledMatrix("evaluate", df, labelsDf, metric, params)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((Cluster.silhouette(m, labels), Cluster.daviesBouldin(m, labels)))
      .toDF("silhouette", "davies_bouldin")
  }

  /** HDBSCAN labels (−1 = noise) over any pairwise metric (reference
    * clustering/density.py:31-84). Eager: collects the n×n distance
    * matrix to the driver (Spark jobs). */
  def hdbscanCluster(df: DataFrame, minClusterSize: Int = 5,
      minSamples: Option[Int] = None, metric: String = "dtw",
      params: Map[String, Double] = Map.empty)(implicit pc: PanelCols): DataFrame =
    matrixLabels("hdbscanCluster", df, metric, params)(
      Cluster.hdbscan(_, minClusterSize, minSamples))

  /** CLARANS labels (reference clustering/scalable.py:153-233). Eager:
    * collects the n×n distance matrix to the driver (Spark jobs). */
  def claransCluster(df: DataFrame, k: Int, numLocal: Int = 2,
      maxNeighbor: Int = 10, metric: String = "dtw",
      params: Map[String, Double] = Map.empty, seed: Long = 42L)(
      implicit pc: PanelCols): DataFrame =
    matrixLabels("claransCluster", df, metric, params)(
      Cluster.clarans(_, k, numLocal, maxNeighbor, seed))

  /** U-shapelet clustering (reference clustering/shapelets.py:21-236):
    * seeded random shapelet candidates from a bounded series sample,
    * gap-statistic scoring with the per-series min-subsequence distances
    * computed DISTRIBUTED (candidates broadcast, one panel pass); only the
    * n×n_candidates distance matrix reaches the driver for the final
    * 1-d k-means in shapelet-distance space. */
  def shapeletCluster(df: DataFrame, k: Int, shapeletLengths: Seq[Int] = Seq(8, 16),
      nCandidates: Int = 30, nShapelets: Int = 5, seed: Long = 42L)(
      implicit pc: PanelCols): DataFrame =
    shapeletFitFull(df, k, shapeletLengths, nCandidates, nShapelets, seed)._1

  /** U-shapelet fit exposing the verification surface: (labels, minLen,
    * the chosen shapelets in score order, the k-means centers used for the
    * FINAL assignment — the snapshot before the last update step). The
    * pinned oracle (ClusterOracles.shapeletSql) inlines shapelets+centers
    * and replays truncate → min-subsequence distance per shapelet →
    * argmin-euclid assignment in SQL; the candidate sampling and
    * gap-statistic scoring stay Scala-side (ClusteringSpec). */
  def shapeletFitFull(df: DataFrame, k: Int, shapeletLengths: Seq[Int] = Seq(8, 16),
      nCandidates: Int = 30, nShapelets: Int = 5, seed: Long = 42L)(
      implicit pc: PanelCols): (DataFrame, Int, Array[Array[Double]], Array[Array[Double]]) = {
    val spark = df.sparkSession
    val (z, minLen) = fixedLenSeries(df)
    val rng = new scala.util.Random(seed)
    // candidates from a bounded hash-ordered sample of series
    val sample = z.orderBy(xxhash64(col("__id").cast("string"), lit(seed)))
      .limit(64).collect().map(_.getSeq[Double](1).toArray)
    val candidates = Array.fill(nCandidates) {
      val sl = math.min(shapeletLengths(rng.nextInt(shapeletLengths.length)), minLen)
      val series = sample(rng.nextInt(sample.length))
      val start = rng.nextInt(math.max(1, series.length - sl + 1))
      series.slice(start, start + sl)
    }
    val bc = spark.sparkContext.broadcast(candidates)
    val distUdf = udf((zs: Seq[Double]) => {
      val arr = zs.toArray
      bc.value.map(c => subseqDist(c, arr))
    })
    val rows = z.select(col("__id").cast("string"), distUdf(col("__z")).as("__d"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val ids = rows.map(_._1)
    val dmat = rows.map(_._2) // n × nCandidates
    // gap-statistic score per candidate over its sorted distance column
    val scores = candidates.indices.map { ci =>
      val colD = dmat.map(_(ci)).sorted
      val gap = if (colD.length < 2) 0.0
        else colD.sliding(2).map(p => p(1) - p(0)).max
      ci -> gap
    }.sortBy(-_._2)
    val chosen = scores.take(math.min(nShapelets, candidates.length)).map(_._1)
    val feat = dmat.map(row => chosen.map(row).toArray)
    // 1-d k-means on the shapelet-distance features (driver, tiny).
    // `assignCenters` snapshots the centroids the FINAL assignment pass
    // used (the update step still runs afterwards), so an argmin replay
    // over them reproduces `labels` exactly — the lloydFit discipline.
    val kk = math.min(k, feat.length)
    var centroids = rng.shuffle(feat.indices.toVector).take(kk).map(feat).toArray
    var assignCenters = centroids
    var labels = new Array[Int](feat.length)
    var it = 0
    var changed = true
    while (it < 100 && changed) {
      changed = false
      assignCenters = centroids.map(_.clone())
      for (i <- feat.indices) {
        val best = centroids.indices.minBy { c =>
          var s = 0.0
          for (j <- feat(i).indices) { val d = feat(i)(j) - centroids(c)(j); s += d * d }
          s
        }
        if (labels(i) != best) { labels(i) = best; changed = true }
      }
      for (c <- centroids.indices) {
        val mem = feat.indices.filter(labels(_) == c)
        if (mem.nonEmpty) {
          val nc = new Array[Double](feat(0).length)
          mem.foreach(i => for (j <- nc.indices) nc(j) += feat(i)(j))
          centroids(c) = nc.map(_ / mem.length)
        }
      }
      it += 1
    }
    val out = labelFrame(df, ids, labels)
    z.unpersist()
    (out, minLen, chosen.map(candidates).toArray, assignCenters)
  }

  /** Min sliding-window euclidean distance shapelet→series
    * (shapelets.py:44-61, with the same early-abandon). */
  private[ops] def subseqDist(shapelet: Array[Double], series: Array[Double]): Double = {
    val sLen = shapelet.length
    val tLen = series.length
    if (sLen > tLen) return Double.PositiveInfinity
    var best = Double.MaxValue
    var i = 0
    while (i <= tLen - sLen) {
      var d = 0.0
      var j = 0
      while (j < sLen && d < best) {
        val diff = shapelet(j) - series(i + j)
        d += diff * diff
        j += 1
      }
      if (d < best) best = d
      i += 1
    }
    math.sqrt(best)
  }

  /** Per-sample silhouette `[id, cluster, silhouette]` (reference
    * clustering/evaluation.py:108-178). Eager: collects
    * the n×n distance matrix and `labelsDf` to the driver (Spark jobs). */
  def silhouetteSamples(df: DataFrame, labelsDf: DataFrame, metric: String = "dtw",
      params: Map[String, Double] = Map.empty)(implicit pc: PanelCols): DataFrame = {
    val (ids, m, labels) = labeledMatrix("silhouetteSamples", df, labelsDf, metric, params)
    val sil = Cluster.silhouetteSamples(m, labels)
    val spark = df.sparkSession
    import spark.implicits._
    typedIds(df, ids.indices.map(i => (ids(i), labels(i), sil(i)))
      .toDF("__id_str", "cluster", "silhouette"))
  }

  /** Medoid-based Calinski-Harabasz index as a 1-row frame
    * (reference clustering/evaluation.py:251-326). Eager: collects
    * the n×n distance matrix and `labelsDf` to the driver (Spark jobs). */
  def calinskiHarabasz(df: DataFrame, labelsDf: DataFrame, metric: String = "dtw",
      params: Map[String, Double] = Map.empty)(implicit pc: PanelCols): DataFrame = {
    val (_, m, labels) = labeledMatrix("calinskiHarabasz", df, labelsDf, metric, params)
    val spark = df.sparkSession
    import spark.implicits._
    Seq(Cluster.calinskiHarabasz(m, labels)).toDF("calinski_harabasz")
  }
}
