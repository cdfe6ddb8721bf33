package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bench leg registry: the timed names are the bench line's
  * `queries` keys, so a rename or a dropped leg must fail here, before a
  * bench round silently loses its round-over-round comparison. The name
  * checks touch no Spark session. */
class BenchLegsSpec extends AnyFunSuite {

  /** The timed `queries` keys of the r13 bench line (`BENCH_r13.json`
    * `parsed.queries`, minus the five `cold_scan_*` entries). */
  private val pinned = Seq(
    "q1_agg", "window_pipeline", "forecast_score", "impute_outliers",
    "resample_decompose", "dedup_exact", "minhash_lsh", "text_quality",
    "knn_brute", "cusum_changepoint", "pairwise_dtw_50x30",
    "pairwise_dtw_band_500x100", "pelt_panel_1000x1000",
    "ets_panel_1000x1000", "mann_kendall_panel", "semdedup",
    "unigram_logprob", "pack_plan", "curation_funnel", "neural_assign",
    "vision_embed", "html_strip", "line_dedup", "span_dedup",
    "kn_perplexity", "kn_target_ppl", "pack_execute", "dsir_weights",
    "classifier_score", "prototype_prune", "media_funnel", "media_pixels",
    "media_jpeg", "media_resize", "media_scenes", "media_audio_seg",
    "asof_join", "asof_native", "range_join", "range_native", "sessionize",
    "zorder_layout", "group_dynamic", "rolling_by_time", "cms_heavy",
    "hll_distinct", "chronos_tokens")

  test("timed leg names are unique across tiers") {
    val names = BenchLegs.timed.map(_.name)
    assert(names.distinct == names,
      s"duplicated: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("timed leg names equal the 47 pinned bench-line names, in order") {
    assert(pinned.size == 47)
    assert(BenchLegs.timed.map(_.name) == pinned)
  }

  test("scale leg names are unique") {
    val names = BenchLegs.scaleLegs.map(_.name)
    assert(names.distinct == names)
  }

  test("select keeps registry order and fails naming an unknown leg") {
    assert(BenchLegs.select("sessionize, q1_agg").map(_.name) ==
      Seq("q1_agg", "sessionize"))
    val e = intercept[IllegalArgumentException](
      BenchLegs.select("q1_agg,no_such_leg"))
    assert(e.getMessage.contains("no_such_leg"))
    assert(!e.getMessage.contains("q1_agg"))
  }

  test("synthPanel(2, 10) has 20 rows over 2 keys") {
    val p = BenchLegs.synthPanel(TestSpark.spark, 2, 10)
    val r = p.agg(count(lit(1)), countDistinct(col("user_id"))).head()
    assert(r.getLong(0) == 20L)
    assert(r.getLong(1) == 2L)
  }

  test("replica 0 is the identity and every replica passes other columns through") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((1, "Abc 12", "web"), (2, "xyz", "code"))
      .toDF("doc_id", "text", "source")
    val r0 = BenchLegs.replica(docs, 0, 1).collect().map(_.toSeq).toSeq
    assert(r0 == Seq(Seq(1L, "Abc 12", "web"), Seq(2L, "xyz", "code")))
    val all = BenchLegs.replicas(docs, 3)
    assert(all.columns.toSeq == Seq("doc_id", "text", "source"))
    val rows = all.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(3L, 4L, 5L, 6L, 7L, 8L))
    assert(rows.map(_.getString(2)).count(_ == "web") == 3)
    assert(rows.map(_.getString(1)).distinct.length == 6)
  }
}
