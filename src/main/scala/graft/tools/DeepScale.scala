package graft.tools

import graft.BenchLegs
import graft.BenchLegs.{Input, asofSides, mat}
import graft.core.IO
import graft.ops.TemporalJoins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deep scale probe: times [[graft.BenchLegs.scaleLegs]] — the headline
  * curation operators and the temporal panel legs — at 1× vs N×
  * (default 100×) the sf corpus, the two-decade extension of Bench's 10×
  * scale proof, plus two zipfian-skew as-of legs. Usage:
  *
  * {{{ runMain graft.tools.DeepScale [sfDir] [factor] [leg,leg,...] }}}
  *
  * Prints one `DEEPSCALE_JSON:` line with per-op (t1, tN, ratio).
  *
  * Replication fixture: [[graft.BenchLegs.replicas]], one seeded
  * character permutation per replica — collision-free at any factor, so
  * no replica aliases another into manufactured exact duplicates. */
object DeepScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 100
    require(factor >= 2, "factor must be >= 2")
    // optional 3rd arg: comma-separated leg filter (r13) — corpora a
    // filtered-out tier needs are not even materialized, so a targeted
    // re-adjudication (e.g. the two asof skew legs) costs minutes, not
    // the full factor-100 suite
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def want(n: String): Boolean = only.forall(_.contains(n))
    val spark = BenchLegs.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = IO.documents(spark, sfDir)
      .select("doc_id", "text", "source", "lang")

    // materialize both corpora to parquet — operators read from disk,
    // the way a real corpus arrives (Bench's 10x lesson: timing against
    // a cached-and-evicted HOF replica pollutes ratios with recompute)
    val dir = java.nio.file.Files.createTempDirectory("graft_deep").toString
    try {
    val legs = BenchLegs.scaleLegs.filter(l => want(l.name))
    val wantDocs = legs.exists(_.input == Input.Corpus)
    if (wantDocs) {
      BenchLegs.replica(docs, 0, 1).write.mode("overwrite").parquet(s"$dir/docs1")
      BenchLegs.replicas(docs, factor).write.mode("overwrite")
        .parquet(s"$dir/docsN")
    }
    lazy val docs1 = spark.read.parquet(s"$dir/docs1")
    lazy val docsN = spark.read.parquet(s"$dir/docsN")
    val n1 = if (wantDocs) docs1.count() else 0L
    val nN = if (wantDocs) docsN.count() else 0L
    // Panels scale in SERIES count (series → factor·series × len rows:
    // the by-key cardinality and the row count both scale, like a real
    // panel), written to parquet so the legs read from disk.
    val panels = legs.map(_.input).collect { case p: Input.Panel => p }
      .distinct.zipWithIndex.map { case (p, i) =>
        BenchLegs.synthPanel(spark, p.series, p.len).write.mode("overwrite")
          .parquet(s"$dir/panel${i}_1")
        BenchLegs.synthPanel(spark, p.seriesAt(factor), p.len)
          .write.mode("overwrite").parquet(s"$dir/panel${i}_N")
        p -> (spark.read.parquet(s"$dir/panel${i}_1"),
          spark.read.parquet(s"$dir/panel${i}_N"))
      }.toMap

    def time(f: () => Unit): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    /** One leg: timed noop-writes at 1× and N×, then UNTIMED counts for
      * rows-out (VERDICT r11 #4: output-linear ops like group_dynamic
      * must report ratio-per-output-row, not wall-ratio alone — a
      * 147× wall ratio on 147× the output rows is linear, not super). */
    case class Leg(name: String, t1: Double, tN: Double, ratio: Double,
                   rows1: Long, rowsN: Long) {
      def rowNorm: Double =
        if (rows1 > 0 && rowsN > 0 && t1 > 0) (tN / rowsN) / (t1 / rows1)
        else -1.0
    }
    def runLeg(name: String, small: => DataFrame, big: => DataFrame): Leg = {
      val w = time(() => mat(small)) // warm codegen/JIT on the small leg
      val t1 = math.min(w, time(() => mat(small)))
      val tN = time(() => mat(big))
      val rows1 = small.count()
      val rowsN = big.count()
      // internal caches (e.g. minhashLsh's signature cache) must not
      // leak memory pressure into the NEXT op's ratio — the probe's own
      // first run charged minhash 115 s where a clean run costs 61 s
      spark.sqlContext.clearCache()
      val ratio = tN / t1
      val leg = Leg(name, t1, tN, ratio, rows1, rowsN)
      println(f"[deepscale] $name%-18s t1=$t1%.2f s  t$factor%d=$tN%.2f s  ratio=$ratio%.1f  rows=$rows1%d->$rowsN%d  rownorm=${leg.rowNorm}%.2f (linear=$factor%d)")
      leg
    }
    val results = legs.map { s =>
      val (small, big) = s.input match {
        case Input.Corpus => (docs1, docsN)
        case p: Input.Panel => panels(p)
      }
      runLeg(s.name, s.body(small), s.body(big))
    }

    // ── zipfian-skew legs (VERDICT r10 ask #7): 50% of all rows on ONE
    // key, the rest across the normal key range — the as-of exchange's
    // hot-partition envelope MEASURED, not assumed, next to the uniform
    // asof_native leg (same total rows, same operator, only the key
    // distribution differs). Two runs of the one as-of operator:
    //  - asof_native_skew: SplitSkewedTemporalJoin splits the hot left
    //    partition at query-stage time when it clears Spark's
    //    spark.sql.adaptive.skewJoin.* thresholds (pass lower ones as -D
    //    system properties to make a small factor qualify);
    //  - asof_skew_unsalted: the same call with
    //    spark.sql.adaptive.skewJoin.enabled=false, the raw single-task
    //    envelope.
    def zipfPanel(nSeries: Int, len: Int): DataFrame =
      spark.range(nSeries.toLong * len).select(
        when(pmod(xxhash64(col("id"), lit(7L)), lit(2)) === 0, lit(0L))
          .otherwise((col("id") / len).cast("long")).as("user_id"),
        timestamp_micros((col("id") % len) * 3600000000L +
          lit(1704067200000000L)).cast("timestamp_ntz").as("ts"),
        (sin(col("id") % len / lit(6.0)) * 10.0 +
          pmod(xxhash64(col("id")), lit(1000)) / lit(1000.0)).as("value"))
    val skewLegs = Seq("asof_native_skew", "asof_skew_unsalted")
    if (skewLegs.exists(want)) {
      zipfPanel(1000, 1000).write.mode("overwrite").parquet(s"$dir/zipf1")
      zipfPanel(1000 * factor, 1000).write.mode("overwrite")
        .parquet(s"$dir/zipfN")
    }
    lazy val zipf1 = spark.read.parquet(s"$dir/zipf1")
    lazy val zipfN = spark.read.parquet(s"$dir/zipfN")
    def skewLeg(name: String): Leg = {
      def run(p: DataFrame): DataFrame = { val (l, r) = asofSides(p)
        TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts",
          Seq("rv")) }
      // the skew rule reads the conf while the query runs, so it stays
      // set for the whole leg
      val key = "spark.sql.adaptive.skewJoin.enabled"
      val prev = spark.conf.getOption(key)
      if (name == "asof_skew_unsalted") spark.conf.set(key, "false")
      try runLeg(name, run(zipf1), run(zipfN))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val skewResults = skewLegs.filter(want).map(skewLeg)

    val qs = (results ++ skewResults).map { leg =>
      s""""${leg.name}":{"t1":${f"${leg.t1}%.3f"},"t$factor":${f"${leg.tN}%.3f"},"ratio":${f"${leg.ratio}%.2f"},"rows_out1":${leg.rows1},"rows_outN":${leg.rowsN},"ratio_rownorm":${f"${leg.rowNorm}%.2f"}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"factor":$factor,"rows1":$n1,"rowsN":$nN,"sf":"$sfDir","ops":$qs}"""
    // the sentinel stdout line IS the result; the curated repo record
    // (SCALE100.json) is updated by hand — the tool never writes into
    // the repository worktree
    println(s"DEEPSCALE_JSON: $json")
    } finally {
      spark.stop()
      BenchLegs.cleanupScratch(dir)
    }
  }
}
