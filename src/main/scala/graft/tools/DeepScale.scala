package graft.tools

import graft.core.IO
import graft.kernels.DetRng
import graft.ops.{Dedup, Layout, Packing, Resample, Sketches, TemporalJoins, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deep scale probe: times the headline curation operators at 1× vs N×
  * (default 100×) the sf corpus, the two-decade extension of Bench's 10×
  * scale proof. Usage:
  *
  * {{{ runMain graft.tools.DeepScale [sfDir] [factor] }}}
  *
  * Prints one `DEEPSCALE_JSON:` line with per-op (t1, tN, ratio).
  *
  * Replication fixture: Bench's 10× legs perturb each replica with an
  * alphabet ROTATION, which is bijective but cycles at 26 — replicas r
  * and r+26 would carry IDENTICAL text, manufacturing cross-replica
  * exact duplicates that a dedup op would (correctly) find and a scale
  * ratio would (incorrectly) charge to the plan. Past 26 the cipher
  * family must be larger: each replica here gets an independent seeded
  * Fisher–Yates PERMUTATION of [a-z] (case-lifted to [A-Z]) and of
  * [0-9] — 26!·10! family, collision-free at any factor, and still a
  * character bijection, so every intra-replica shingle/Jaccard/token
  * relationship of the original corpus is preserved exactly while
  * cross-replica shingles stay disjoint (a permuted English shingle is
  * not an English shingle). Replica 0 is the identity. */
object DeepScale {

  /** Seeded Fisher–Yates permutation of a character set (identity at
    * rep 0), DetRng-keyed so the fixture is reproducible. */
  private[tools] def perm(chars: String, rep: Int): String = {
    if (rep == 0) return chars
    val a = chars.toCharArray
    val sc = DetRng.seedConst(0xdee9L + rep)
    var i = a.length - 1
    while (i > 0) {
      val j = (DetRng.uniform(sc, i.toLong) * (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"
  private val From = Lower + Lower.toUpperCase + Digits

  /** One ciphered replica of the corpus: ids offset into a disjoint
    * range, text through the replica's character bijection. */
  private[tools] def replica(docs: DataFrame, rep: Int, factor: Int): DataFrame = {
    val pl = perm(Lower, rep)
    val to = pl + pl.toUpperCase + perm(Digits, rep)
    docs.select(
      (col("doc_id").cast("long") * factor + rep).as("doc_id"),
      (if (rep == 0) col("text") else translate(col("text"), From, to))
        .as("text"),
      col("source"), col("lang"))
  }

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
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = IO.documents(spark, sfDir)
      .select("doc_id", "text", "source", "lang")

    // materialize both corpora to parquet — operators read from disk,
    // the way a real corpus arrives (Bench's 10x lesson: timing against
    // a cached-and-evicted HOF replica pollutes ratios with recompute)
    val dir = java.nio.file.Files.createTempDirectory("graft_deep").toString
    try {
    val docLegs = Seq("minhash_lsh", "line_dedup", "kn_perplexity",
      "pack_execute", "curation_metrics", "cms_sketch", "hll_distinct")
    val wantDocs = docLegs.exists(want)
    if (wantDocs) {
      replica(docs, 0, 1).write.mode("overwrite").parquet(s"$dir/docs1")
      (0 until factor).map(replica(docs, _, factor)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/docsN")
    }
    lazy val docs1 = spark.read.parquet(s"$dir/docs1")
    lazy val docsN = spark.read.parquet(s"$dir/docsN")
    val n1 = if (wantDocs) docs1.count() else 0L
    val nN = if (wantDocs) docsN.count() else 0L

    def mat(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "minhash_lsh" -> (d => Dedup.minhashLsh(d, threshold = 0.5)),
      "line_dedup" -> (d => Dedup.lineDedup(d)),
      "kn_perplexity" -> (d => TextOps.knPerplexity(d, buckets = 4096)),
      "pack_execute" -> (d => Packing.executePack(d, seqLen = 128,
        nShards = 8)),
      "curation_metrics" -> (d => TextOps.curationMetrics(d)),
      "cms_sketch" -> (d => Sketches.cmsSketch(d)),
      "hll_distinct" -> (d => Sketches.hllDistinctSketch(d)))

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
    def runLeg(name: String, small: => DataFrame, big: => DataFrame,
               clear: Boolean = true): Leg = {
      val w = time(() => mat(small)) // warm codegen/JIT on the small leg
      val t1 = math.min(w, time(() => mat(small)))
      val tN = time(() => mat(big))
      val rows1 = small.count()
      val rowsN = big.count()
      // internal caches (e.g. minhashLsh's signature cache) must not
      // leak memory pressure into the NEXT op's ratio — the probe's own
      // first run charged minhash 115 s where a clean run costs 61 s
      if (clear) spark.sqlContext.clearCache()
      val ratio = tN / t1
      val leg = Leg(name, t1, tN, ratio, rows1, rowsN)
      println(f"[deepscale] $name%-18s t1=$t1%.2f s  t$factor%d=$tN%.2f s  ratio=$ratio%.1f  rows=$rows1%d->$rowsN%d  rownorm=${leg.rowNorm}%.2f (linear=$factor%d)")
      leg
    }
    val results = ops.filter(o => want(o._1)).map { case (name, f) =>
      runLeg(name, f(docs1), f(docsN))
    }
    // ── temporal tier (VERDICT r9 ask #6): the r9 flagship operators'
    // 100-TB claim rested on one decade (the 10× legs) — extend it.
    // Panels scale in SERIES count (1k → factor·1k series × 1000 rows:
    // the by-key cardinality and the row count both scale, like a real
    // panel), written to parquet so the legs read from disk.
    def synthPanel(nSeries: Int, len: Int): DataFrame =
      spark.range(nSeries.toLong * len).select(
        (col("id") / len).cast("long").as("user_id"),
        timestamp_micros((col("id") % len) * 3600000000L +
          lit(1704067200000000L)).cast("timestamp_ntz").as("ts"),
        (sin(col("id") % len / lit(6.0)) * 10.0 +
          pmod(xxhash64(col("id")), lit(1000)) / lit(1000.0)).as("value"))
    implicit val pc: graft.core.PanelCols =
      graft.core.PanelCols("user_id", "ts", "value")
    val temporalLegs = Seq("asof_join", "asof_native", "sessionize",
      "range_native", "group_dynamic", "zorder_layout")
    if (temporalLegs.exists(want)) {
      synthPanel(1000, 1000).write.mode("overwrite").parquet(s"$dir/panel1")
      synthPanel(1000 * factor, 1000).write.mode("overwrite")
        .parquet(s"$dir/panelN")
    }
    lazy val panel1 = spark.read.parquet(s"$dir/panel1")
    lazy val panelN = spark.read.parquet(s"$dir/panelN")
    def asofSides(p: DataFrame): (DataFrame, DataFrame) = {
      val hr = (unix_micros(col("ts").cast("timestamp")) / 3600000000L) % 2
      (p.filter(hr === 0).select("user_id", "ts", "value"),
        p.filter(hr === 1).select(col("user_id"), col("ts"),
          col("value").as("rv")))
    }
    def ivsOf(p: DataFrame): DataFrame =
      p.filter(pmod(unix_micros(col("ts").cast("timestamp")) /
          3600000000L, lit(24)) === 0)
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"))
    val temporalOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "asof_join" -> (p => { val (l, r) = asofSides(p)
        TemporalJoins.asofJoin(l, r, Seq("user_id"), "ts", "ts", Seq("rv")) }),
      "asof_native" -> (p => { val (l, r) = asofSides(p)
        TemporalJoins.asofJoinNative(l, r, Seq("user_id"), "ts", "ts", Seq("rv")) }),
      "sessionize" -> (p =>
        TemporalJoins.sessionize(p, Seq("user_id"), "ts",
            gapUs = 2L * 3600 * 1000000)
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"))),
      "range_native" -> (p =>
        TemporalJoins.rangeJoinNative(p.select("user_id", "ts", "value"),
          ivsOf(p), Seq("user_id"), "ts", "w_start", "w_end")),
      "group_dynamic" -> (p =>
        Resample.groupByDynamic(p, every = "30 minutes",
          period = "2 hours")),
      "zorder_layout" -> (p =>
        Layout.zorderBy(p.withColumn("hr",
            expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 4096")),
          Seq("user_id", "hr"), numFiles = 32, bits = 12)))
    val temporalResults = temporalOps.filter(o => want(o._1)).map {
      case (name, f) => runLeg(name, f(panel1), f(panelN))
    }

    // ── zipfian-skew legs (VERDICT r10 ask #7): 50% of all rows on ONE
    // key, the rest across the normal key range — the as-of exchange's
    // hot-partition envelope MEASURED, not assumed, next to the uniform
    // asof_native leg (same total rows, same operator, only the key
    // distribution differs). Three paths:
    //  - asof_native_skew: the default path; SplitSkewedTemporalJoin
    //    splits the hot left partition at query-stage time when it
    //    clears Spark's spark.sql.adaptive.skewJoin.* thresholds (pass
    //    lower ones as -D system properties to make a small factor
    //    qualify);
    //  - asof_skew_unsalted: the same call with
    //    spark.sql.adaptive.skewJoin.enabled=false, the raw single-task
    //    envelope;
    //  - asof_salted: the explicit asofJoinSalted time-slice path.
    def zipfPanel(nSeries: Int, len: Int): DataFrame =
      spark.range(nSeries.toLong * len).select(
        when(pmod(xxhash64(col("id"), lit(7L)), lit(2)) === 0, lit(0L))
          .otherwise((col("id") / len).cast("long")).as("user_id"),
        timestamp_micros((col("id") % len) * 3600000000L +
          lit(1704067200000000L)).cast("timestamp_ntz").as("ts"),
        (sin(col("id") % len / lit(6.0)) * 10.0 +
          pmod(xxhash64(col("id")), lit(1000)) / lit(1000.0)).as("value"))
    val skewLegs = Seq("asof_native_skew", "asof_skew_unsalted", "asof_salted")
    if (skewLegs.exists(want)) {
      zipfPanel(1000, 1000).write.mode("overwrite").parquet(s"$dir/zipf1")
      zipfPanel(1000 * factor, 1000).write.mode("overwrite")
        .parquet(s"$dir/zipfN")
    }
    lazy val zipf1 = spark.read.parquet(s"$dir/zipf1")
    lazy val zipfN = spark.read.parquet(s"$dir/zipfN")
    def skewLeg(name: String): Leg = {
      def run(p: DataFrame): DataFrame = { val (l, r) = asofSides(p)
        if (name == "asof_salted")
          TemporalJoins.asofJoinSalted(l, r, Seq("user_id"), "ts", "ts",
            Seq("rv"))
        else
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

    val qs = (results ++ temporalResults ++ skewResults).map { leg =>
      s""""${leg.name}":{"t1":${f"${leg.t1}%.3f"},"t$factor":${f"${leg.tN}%.3f"},"ratio":${f"${leg.ratio}%.2f"},"rows_out1":${leg.rows1},"rows_outN":${leg.rowsN},"ratio_rownorm":${f"${leg.rowNorm}%.2f"}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"factor":$factor,"rows1":$n1,"rowsN":$nN,"sf":"$sfDir","ops":$qs}"""
    // the sentinel stdout line IS the result; the curated repo record
    // (SCALE100.json) is updated by hand — the tool never writes into
    // the repository worktree
    println(s"DEEPSCALE_JSON: $json")
    } finally {
      spark.stop()
      cleanupScratch(dir)
    }
  }

  /** Best-effort scratch cleanup (Bench's scale-suite pattern): the
    * replicated corpora are multi-GB at factor 100 and must not leak
    * per run — call from `finally`, so a mid-suite OOM/disk-full still
    * cleans up. Closes the walk stream (Files.walk holds a directory
    * handle until closed). */
  private[tools] def cleanupScratch(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: Throwable => () }
}
