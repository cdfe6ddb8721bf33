package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    // same engine defaults as Bench/Verify (one config source of truth)
    val s = graft.core.GraftSession.withEngineDefaults(
      SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("graft-test"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `f`'s result and the number of Spark jobs started while it runs. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftListenerBridge.waitUntilEmpty(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = f
      GraftListenerBridge.waitUntilEmpty(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}

/** Every SparkEntry query runs on sf0.001 and returns rows — the same
  * smoke the driver performs, so failures surface here first. */
class QueriesSmokeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Cheap structural invariants for the un-oracled `_e2e` full-panel
    * variants (VERDICT r5 ask #10): a silent breakage — empty clusters, a
    * diverged fit, NaN forecasts — must not hide behind a stable row
    * count. Each check is one extra aggregate on the already-computed
    * DataFrame. */
  private def finite(c: String) =
    col(c).isNotNull && !isnan(col(c)) && abs(col(c)) < 1e9
  private def assertAllRows(df: DataFrame, cond: org.apache.spark.sql.Column,
      what: String): Unit = {
    val bad = df.filter(!cond).count()
    assert(bad == 0, s"$bad rows violate: $what")
  }
  private val e2eInvariants: Map[String, DataFrame => Unit] = Map(
    "ts_kmedoids_e2e" -> (df =>
      assert(df.select("cluster").distinct().count() == 3, "k=3 clusters")),
    "ts_agglomerative_e2e" -> (df =>
      assert(df.select("cluster").distinct().count() == 3, "k=3 clusters")),
    "ts_dbscan_e2e" -> { df =>
      assertAllRows(df, col("cluster") >= -1, "labels >= -1")
      assert(df.filter(col("cluster") >= 0).count() > 0, "no non-noise cluster")
    },
    "ts_cluster_eval_e2e" -> { df =>
      val r = df.head
      val sil = r.getAs[Double]("silhouette")
      val dbi = r.getAs[Double]("davies_bouldin")
      assert(sil >= -1.0 && sil <= 1.0, s"silhouette $sil outside [-1,1]")
      assert(dbi >= 0.0 && dbi < 1e6, s"davies_bouldin $dbi out of range")
    },
    "ts_pairwise_dtw_e2e" -> { df =>
      assertAllRows(df, col("dtw") >= 0 && finite("dtw"), "dtw >= 0, finite")
      assertAllRows(df, col("id_1") < col("id_2"), "upper triangle only")
    },
    "ts_garch_e2e" -> { df =>
      assertAllRows(df, col("omega") > 0 && col("alpha") >= 0 &&
        col("beta") >= 0 && col("sigma") > 0 && finite("sigma"),
        "GARCH params positive, sigma finite")
    },
    "ts_arma_fc_e2e" -> { df =>
      assert(df.select("step").distinct().count() == 7, "7 forecast steps")
      assertAllRows(df, finite("y_hat"), "y_hat finite")
    },
    "ts_auto_ets_fc_e2e" -> { df =>
      assert(df.select("step").distinct().count() == 7, "7 forecast steps")
      assertAllRows(df, finite("y_hat"), "y_hat finite")
    },
    "ts_gp_fc_e2e" -> { df =>
      assert(df.select("step").distinct().count() == 5, "5 forecast steps")
      assertAllRows(df, finite("y_hat") &&
        col("y_hat_lower") <= col("y_hat") && col("y_hat") <= col("y_hat_upper"),
        "finite y_hat inside its own interval")
    },
    "ts_reconcile_permbu_e2e" -> (df =>
      assertAllRows(df, finite("y_hat"), "reconciled y_hat finite")),
    "ts_reconcile_mintcv_e2e" -> (df =>
      assertAllRows(df, finite("y_hat"), "reconciled y_hat finite")),
    // r12: the e2e query emits oracle-replayable path sums now (flag
    // counts were never replayable) — sanity: positive finite path mass
    "ts_iforest_e2e" -> { df =>
      assertAllRows(df, col("path_sum") > 0.0 && col("n_rows") > 0,
        "positive path-length mass per series")
    },
    "emb_knn_recall" -> (df =>
      // every approximate index must hold ≥0.8 recall@3 vs brute force
      // (VERDICT r6 ask #3's bar for the IVFADC composition)
      assertAllRows(df, col("recall") >= 0.8, "ANN recall >= 0.8")),
    "ts_bayesian_ets_intervals" -> (df =>
      assertAllRows(df, finite("y_hat") &&
        col("y_hat_lower") <= col("y_hat_upper"),
        "finite MAP forecast, ordered MH interval")))

  for ((name, fn) <- SparkEntry.queries) {
    test(s"query $name returns rows on sf0.001") {
      val df = fn(TestSpark.spark, dir)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
      e2eInvariants.get(name).foreach(_(df))
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query: $missing")
  }
}
