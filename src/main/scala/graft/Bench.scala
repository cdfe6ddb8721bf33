package graft

import graft.BenchLegs.{Ctx, Input, Leg, PC, Tier, mat, synthPanel}
import graft.core.IO
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Benchmark main — implements the BASELINE.md suite: the reference's
  * harness shapes (pairwise DTW, PELT, ETS panels — bench_kmedoids.py /
  * bench_pelt.py / bench_ets.py) plus sf-scale engine queries on the
  * driver testdata. Prints ONE JSON line. The legs are
  * [[BenchLegs.timed]].
  *
  * {{{
  *   sbt "runMain graft.Bench"                        # full suite
  *   sbt "runMain graft.Bench q1_agg,minhash_lsh"     # only these legs
  * }}}
  *
  * Given a comma-separated list of leg names, only those legs are timed
  * and the cold and scale tiers are skipped; an unknown name fails.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR       data dir                (default: the sf0.1 testdata)
  *   SPARK_GRAFT_CPUS         local core count        (default 32)
  *   SPARK_GRAFT_BENCH_ITERS  draws per leg           (default 3, median reported)
  *   SPARK_GRAFT_SCALE_PROOF  0 skips the scale tiers (default 1)
  *   OPT_EXPLAIN_DIR          if set, write `explain(formatted)` of each
  *                            leg to $OPT_EXPLAIN_DIR/<leg>.txt, with the
  *                            ids that shift with JVM history normalized
  *                            ([[normalizePlanIds]]), so the dumps of two
  *                            runs can be diffed
  *
  * Methodology: every timed query materializes through the `noop` sink —
  * `count()` would let Catalyst prune exactly the columns under test.
  * One untimed run of each leg, just before its draws, absorbs that
  * leg's JVM/codegen first-run cost so numbers reflect steady-state
  * throughput. Every draw is kept in `bench_out.json`, with the number of
  * classes Spark's code generator compiled during it (`compiles`): 0 on a
  * warm draw whose generated classes all stayed in the codegen cache.
  */
object Bench {

  /** 1-minute load average — recorded per query so the bench artifact
    * self-adjudicates co-residency (VERDICT r7 "what's wrong" #1: the
    * recorded r7 run was 5× slow purely because the driver's own
    * compile+verify shared the box). −1 when /proc is unavailable. */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Classes compiled by Spark's code generator so far in this JVM. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Plan text with the ids that depend on what ran earlier in the JVM
    * replaced by `n`: expression ids (`#12`), `plan_id=12`, RDD ids
    * (`MapPartitionsRDD[299]`) and lambda variable ids (`lambda x_10`). */
  private[graft] def normalizePlanIds(plan: String): String =
    plan.replaceAll("#\\d+", "#n")
      .replaceAll("plan_id=\\d+", "plan_id=n")
      .replaceAll("(RDD)\\[\\d+\\]", "$1[n]")
      .replaceAll("(lambda \\w+?_)\\d+", "$1n")

  /** One wall + CPU draw of `run` and the classes compiled during it;
    * wall and CPU are −1 when it throws. */
  private def timeOnce(name: String, run: () => Unit): (Double, Double, Long) = {
    val c0 = BenchLegs.procCpuSecs()
    val k0 = codegenCompiles()
    val t0 = System.nanoTime()
    val ok = try { run(); true } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = {
      val c1 = BenchLegs.procCpuSecs()
      if (c0 >= 0 && c1 >= 0) c1 - c0 else -1.0
    }
    val compiles = codegenCompiles() - k0
    if (ok) (wall, cpu, compiles) else (-1.0, -1.0, compiles)
  }

  /** Every draw of one leg, in order; a failed draw is −1. */
  private final case class Draws(name: String, wall: Seq[Double],
      cpu: Seq[Double], compiles: Seq[Long], loadBefore: Double,
      loadAfter: Double) {
    private val good = wall.indices.filter(wall(_) >= 0).sortBy(wall)
    /** Wall and CPU of the median draw (odd count → true median). */
    val (secs, cpuSecs) =
      if (good.isEmpty) (-1.0, -1.0)
      else { val i = good(good.size / 2); (wall(i), cpu(i)) }
    def json: String = {
      val w = good.map(wall)
      "{\"wall\":" + wall.mkString("[", ",", "]") +
        ",\"cpu\":" + cpu.mkString("[", ",", "]") +
        ",\"compiles\":" + compiles.mkString("[", ",", "]") +
        ",\"median\":" + secs +
        ",\"min\":" + (if (w.isEmpty) -1.0 else w.min) +
        ",\"max\":" + (if (w.isEmpty) -1.0 else w.max) + "}"
    }
  }

  private def draws(name: String, n: Int, run: () => Unit): Draws = {
    val lb = loadAvg()
    val ds = (1 to n).map(_ => timeOnce(name, run))
    Draws(name, ds.map(_._1), ds.map(_._2), ds.map(_._3), lb, loadAvg())
  }

  /** The faster of two draws of a scale leg. */
  private def best2(run: () => Unit): Double = {
    val ts = Seq(timeOnce("scale", run)._1, timeOnce("scale", run)._1)
      .filter(_ >= 0)
    if (ts.isEmpty) -1.0 else ts.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Median of N draws per query: a single draw can't distinguish a
    // 1.5× run-to-run swing from a real regression. Odd N → true median
    // element. One measured cause of the swing is a draw that compiles
    // generated classes again (its `compiles` in bench_out.json): at
    // sf0.01, `hll_distinct` drew 0.16 s with 8 compiles against 0.09 s
    // with none, while 42 of the 47 timed legs compiled nothing after
    // their warm-up.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val explainDir = sys.env.get("OPT_EXPLAIN_DIR")
    val subset: Option[Seq[Leg]] = args.headOption.map(BenchLegs.select)
    val legs = subset.getOrElse(BenchLegs.timed)
    // engine defaults (UTC, AQE coalesce floor, codegen cache size) come
    // from ONE shared source — graft.core.GraftSession — so the bench
    // measures exactly the configuration Verify and library users run
    // (r12 verdict #7)
    val spark = BenchLegs.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // ── cold-scan tier (r12 verdict ask #8) ──────────────────────────
    // Timed BEFORE any base-table cache exists, so every leg pays the
    // real parquet scan + decode (+ the IO.table normalization exchange
    // where it fires) — the cost the cached tiers below deliberately
    // exclude from their steady-state numbers. Reported as its own
    // `total_cold` field + per-leg `cold_scan_*` entries; kept OUT of
    // `value`/`total_full` so those stay round-over-round comparable.
    // The reported number is the FIRST draw: later draws read a warm
    // page cache, so a median would not be a cold number.
    val cold: Seq[Draws] = if (subset.isDefined) Seq.empty else {
      // absorb first-action JVM/codegen startup on a table outside the tier
      try mat(spark.read.parquet(s"$sfDir/nation.parquet"))
      catch { case _: Throwable => () }
      Seq("lineitem", "events", "orders", "documents", "embeddings").map { t =>
        draws(s"cold_scan_$t", iters, () => mat(IO.table(spark, sfDir, t)))
      }
    }
    def coldSecs(d: Draws): Double = d.wall.head

    val ctx = new Ctx(spark, sfDir)
    ctx.prepare()

    explainDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      legs.foreach { leg =>
        val txt = normalizePlanIds(leg.body(ctx).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"${leg.name}.txt"), txt)
      }
    }

    val loadStart = loadAvg()
    val all: Seq[(Leg, Draws)] = legs.map { leg =>
      // untimed warm-up of this leg's own codegen and JIT paths; a leg
      // that fails here fails (and is reported) in its draws below
      try mat(leg.body(ctx)) catch { case NonFatal(_) => () }
      leg -> draws(leg.name, iters, () => mat(leg.body(ctx)))
    }

    val scaleProofOn = subset.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_SCALE_PROOF", "1") == "1"
    val scale10x = if (scaleProofOn) scaleSuite(spark, ctx) else Seq.empty
    val scaleLen = if (scaleProofOn) lengthSuite(spark) else Seq.empty

    val loadEnd = loadAvg()
    val timedDraws = all.map(_._2)
    // ambient-load summary for the driver-facing line (r12 verdict ask
    // #9): per-leg before/after loads live in bench_out.json's `load`
    // map; the compact line carries start/end/max so a contaminated draw
    // is visible inside the 2000-char stdout tail the driver keeps
    val loadMax = (timedDraws.flatMap(r => Seq(r.loadBefore, r.loadAfter)) ++
      Seq(loadStart, loadEnd)).max
    def total(tiers: Tier*): Double =
      all.collect { case (l, d) if tiers.contains(l.tier) && d.secs >= 0 => d.secs }
        .sum
    val totalCore = total(Tier.Core)
    val totalFull = total(Tier.Core, Tier.Curation)
    val totalNeural = total(Tier.Neural)
    val totalSelection = total(Tier.Selection)
    val totalMedia = total(Tier.Media)
    val totalTemporal = total(Tier.Temporal)
    val totalSketch = total(Tier.Sketch)
    val totalCold = cold.map(coldSecs).filter(_ >= 0).sum

    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val coldJson = obj(cold.map(d => d.name -> coldSecs(d)))
    val qs = obj(timedDraws.map(r => r.name -> r.secs))
    val cpus_ = obj(timedDraws.map(r => r.name -> r.cpuSecs))
    val loads = obj(timedDraws.map(r =>
      r.name -> ("[" + r.loadBefore + "," + r.loadAfter + "]")))
    val drawsJson = obj((timedDraws ++ cold).map(r => r.name -> r.json))
    val scaleJson = obj(scale10x.map { case (n, t1, t10) =>
      val ratio = if (t1 > 0 && t10 > 0) t10 / t1 else -1.0
      n -> ("{\"t1\":" + t1 + ",\"t10\":" + t10 +
        ",\"ratio\":" + f"$ratio%.2f" + "}")
    })
    val scaleLenJson = obj(scaleLen.map { case (n, t1, t10, t100) =>
      val r10 = if (t1 > 0 && t10 > 0) t10 / t1 else -1.0
      val r100 = if (t1 > 0 && t100 > 0) t100 / t1 else -1.0
      n -> ("{\"t1\":" + t1 + ",\"t10\":" + t10 +
        ",\"t100\":" + t100 + ",\"r10\":" + f"$r10%.2f" +
        ",\"r100\":" + f"$r100%.2f" + "}")
    })
    val json =
      s"""{"metric":"total","value":$totalCore,"unit":"sec","queries":$qs,"cpu":$cpus_,"iterations":$iters,"total_full":$totalFull,"total_neural":$totalNeural,"total_selection":$totalSelection,"total_media":$totalMedia,"total_temporal":$totalTemporal,"total_sketch":$totalSketch,"cold":$coldJson,"total_cold":$totalCold,"load":$loads,"load_start":$loadStart,"load_end":$loadEnd,"load_max":$loadMax,"draws":$drawsJson,"scale10x":$scaleJson,"scale_len":$scaleLenJson,"sf":"$sfDir"}"""
    // bench_out.json carries the FULL artifact (every draw, per-query
    // cpu/load, both scale sections) — the round's committed record and
    // what COVERAGE.md quotes
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json)
    // The DRIVER-facing line must fit the driver's 2000-char stdout
    // tail together with sbt's trailing "[success] ..." line — r01–r10
    // all landed "parsed": null because the full-precision line plus
    // the sentinel copy never fit the window. Print ONE compact line
    // (3-dp query values, no per-query cpu/load maps) LAST.
    def f3(d: Double): String =
      if (d < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // cached-tier legs keep their names and values; cold legs are ADDED
    // entries (driver contract: additions only)
    val qsC = obj(timedDraws.map(r => r.name -> f3(r.secs)) ++
      cold.map(d => d.name -> f3(coldSecs(d))))
    val compact =
      s"""{"metric":"total","value":${f3(totalCore)},"unit":"sec","queries":$qsC,"iterations":$iters,"total_full":${f3(totalFull)},"total_neural":${f3(totalNeural)},"total_selection":${f3(totalSelection)},"total_media":${f3(totalMedia)},"total_temporal":${f3(totalTemporal)},"total_sketch":${f3(totalSketch)},"total_cold":${f3(totalCold)},"load_start":$loadStart,"load_end":$loadEnd,"load_max":$loadMax,"detail":"bench_out.json","sf":"$sfDir"}"""
    spark.stop()
    // The compact JSON is the absolute last stdout line, BARE (r12
    // verdict ask #2): sbt no longer decorates it — build.sbt sets
    // outputStrategy := StdoutOutput for forked runs — and sbt's GC
    // monitor [warn] line is disabled in .jvmopts, so only sbt's own
    // "[success]" line follows inside the driver's 2000-char tail.
    println(compact)
    System.out.flush()
  }

  // ---- 10× scale-proof (VERDICT r8 ask #2) ------------------------------
  // Replicates the sf docs/embeddings 10× IN-ENGINE and times the
  // headline curation/selection paths at 1× and 10× on identical code.
  // Per-replica perturbations are bijective (a seeded character cipher
  // per replica, BenchLegs.replica; circularly-shifted vectors), so the
  // dedup structure of the original corpus is preserved inside each
  // replica instead of turning every doc into 10 exact copies — identical
  // copies would make LSH/SemDeDup outputs quadratic in the replication
  // factor by construction, measuring the synthetic data rather than the
  // plan. Replica 0 is the identity, so t1 IS the raw corpus and the
  // ratio isolates scaling; a linear plan with fixed overhead lands well
  // under 10×. IVF follows its documented scale path: nCells ∝ sqrt(N).
  private def scaleSuite(spark: SparkSession,
      ctx: Ctx): Seq[(String, Double, Double)] = {
    def repEmb(reps: Int): DataFrame =
      ctx.emb.withColumn("__rep", explode(sequence(lit(0), lit(reps - 1))))
        .withColumn("vec_id",
          col("vec_id").cast("long") * reps + col("__rep"))
        .withColumn("embedding",
          when(col("__rep") === 0, col("embedding")).otherwise(concat(
            slice(col("embedding"), col("__rep") + 1,
              size(col("embedding")) - col("__rep")),
            slice(col("embedding"), lit(1), col("__rep")))))
        .drop("__rep")
    // Materialize the replicated corpora to PARQUET and time the
    // operators reading from disk — how a real corpus arrives. The
    // earlier cached-DataFrame form held 11× the corpus text against
    // the driver's storage pool; evictions re-ran the (expensive)
    // word-remap HOF inside timed runs, polluting every ratio with
    // recompute cost (r9: minhash_lsh read 17.5× that way).
    val scaleDir = java.nio.file.Files.createTempDirectory("graft_scale").toString
    try {
      BenchLegs.replica(ctx.docs, 0, 1).write.mode("overwrite")
        .parquet(s"$scaleDir/docs1")
      BenchLegs.replicas(ctx.docs, 10).write.mode("overwrite")
        .parquet(s"$scaleDir/docs10")
      repEmb(1).write.mode("overwrite").parquet(s"$scaleDir/emb1")
      repEmb(10).write.mode("overwrite").parquet(s"$scaleDir/emb10")
      // release the timed tiers' cached corpora before the scale legs: a
      // JVM still pinning docs/emb (+ shuffle blocks) puts GC pressure
      // squarely on the 10x legs — one run recorded pelt at 13.8x where
      // a fresh-JVM probe measures 5.1x, pure heap-state noise
      ctx.docs.unpersist(blocking = true)
      ctx.emb.unpersist(blocking = true)
      spark.sqlContext.clearCache()
      val docs1 = spark.read.parquet(s"$scaleDir/docs1")
      val docs10 = spark.read.parquet(s"$scaleDir/docs10")
      val emb1 = spark.read.parquet(s"$scaleDir/emb1")
      val emb10 = spark.read.parquet(s"$scaleDir/emb10")
      // persisted signature stores for the incremental-dedup leg
      Dedup.minhashSignatures(docs1).write.mode("overwrite")
        .parquet(s"$scaleDir/sigs1")
      Dedup.minhashSignatures(docs10).write.mode("overwrite")
        .parquet(s"$scaleDir/sigs10")
      val sigs1 = spark.read.parquet(s"$scaleDir/sigs1")
      val sigs10 = spark.read.parquet(s"$scaleDir/sigs10")
      val ingestBatch = docs1.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("text", concat(col("text"), lit(" ingest tail")))
      val cent1 = Similarity.ivfCentroids(emb1, nCells = 16)
      // ANN query-latency tuning is k ∝ √n, but DEDUP's scale contract
      // is k ∝ n (constant cell size → linear within-cell pairs — see
      // Similarity.semDedup). Prototype pruning keeps the √n prototype
      // count (broadcast-linear regardless).
      val centSem10 = Similarity.ivfCentroids(emb10, nCells = 160)
      val centProto10 = Similarity.ivfCentroids(emb10, nCells = 50)
      def input(in: Input, factor: Int): DataFrame = in match {
        case Input.Corpus => if (factor == 1) docs1 else docs10
        case p: Input.Panel => synthPanel(spark, p.seriesAt(factor), p.len)
      }
      val registered = (BenchLegs.benchScaleLegs(ctx) ++ BenchLegs.scaleLegs)
        .map(s => (s.name, () => mat(s.body(input(s.input, 1))),
          () => mat(s.body(input(s.input, 10)))))
      val suite: Seq[(String, () => Unit, () => Unit)] = registered ++ Seq(
        ("semdedup",
          () => mat(BenchLegs.semDedup(emb1, cent1)),
          () => mat(BenchLegs.semDedup(emb10, centSem10))),
        ("prototype_prune",
          () => mat(BenchLegs.prototypePrune(emb1, cent1)),
          () => mat(BenchLegs.prototypePrune(emb10, centProto10))),
        // HNSW: per-partition graph builds are the dominant cost and
        // amortize across fixed partitions — ~linear in corpus size
        ("knn_hnsw",
          () => mat(Similarity.hnswTopK(emb1,
            emb1.filter(col("vec_id") < 20), k = 3, numPartitions = 32)),
          () => mat(Similarity.hnswTopK(emb10,
            emb10.filter(col("vec_id") < 20), k = 3, numPartitions = 32))),
        // corpus×corpus HNSW (r12, VERDICT #7): EVERY row queries the
        // whole corpus through the tiled-cogroup path — no driver
        // collect on either side; queries scale 10× WITH the corpus, so
        // work grows ~100× across the decade and the leg's ratio
        // documents that quadratic contract explicitly (the knob for a
        // bounded wall-clock at 1000 executors is corpusParts)
        ("knn_hnsw_all",
          () => mat(Similarity.hnswTopKAll(emb1, emb1, k = 3,
            corpusParts = 8, queryBatches = 2)),
          () => mat(Similarity.hnswTopKAll(emb10, emb10, k = 3,
            corpusParts = 8, queryBatches = 2))),
        // incremental-dedup contract: a CONSTANT ingest batch against a
        // 10× corpus signature store — the ratio measures corpus-growth
        // sensitivity of per-batch cost (claim: touched buckets only,
        // far below 10×). Signatures are the persisted state: computed
        // and written untimed, read from parquet like a real store.
        ("minhash_incremental",
          () => mat(Dedup.minhashLshIncremental(ingestBatch, sigs1,
            threshold = 0.5)),
          () => mat(Dedup.minhashLshIncremental(ingestBatch, sigs10,
            threshold = 0.5))))
      // Steady-state warmup for the constant-batch incremental leg: the
      // first invocation of minhashLshIncremental pays JIT + codegen of
      // the fused signature expressions — cost a real ingest pipeline
      // amortized long ago. r9 recorded an INVERTED ratio (t1 8.95 >
      // t10 5.31) because the t1 leg carried that warmup; pay it
      // untimed so both legs measure per-batch steady state.
      try mat(Dedup.minhashLshIncremental(ingestBatch, sigs1, threshold = 0.5))
      catch { case _: Throwable => () }
      suite.map { case (name, r1, r10) => (name, best2(r1), best2(r10)) }
    } finally BenchLegs.cleanupScratch(scaleDir)
  }

  // ── length-axis scale proof (r11, VERDICT r10 ask #4) ─────────────
  // The 10× methodology above replicates series COUNT; these legs grow
  // ONE series' LENGTH (1 series × L, 10L, 100L) — the axis the
  // matrix-profile valve and the BOCPD prune exist for. Expected
  // shapes: pelt (pruned) ~linear, ets O(n), mann-kendall O(n log n),
  // bocpd-pruned O(n·K), matrix profile O(n²) WORK but distributed
  // over diagonal blocks — its wall ratio measures work/parallelism,
  // not a stall; completing at 100× at all is what the monolithic
  // form cannot do.
  private def lengthSuite(
      spark: SparkSession): Seq[(String, Double, Double, Double)] = {
    val lenSuite: Seq[(String, Int, Int => () => Unit)] = Seq(
      ("pelt_len", 2000, len => () =>
        mat(Changepoint.pelt(synthPanel(spark, 1, len), "mean"))),
      ("ets_len", 10000, len => () =>
        mat(ForecastBaselines.multiForecast(synthPanel(spark, 1, len),
          h = 12, Seq("ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12)))))),
      ("mann_kendall_len", 10000, len => () =>
        mat(Changepoint.mannKendall(synthPanel(spark, 1, len)))),
      ("bocpd_len", 2000, len => () =>
        mat(Changepoint.bocpd(synthPanel(spark, 1, len),
          pruneThreshold = 1e-8))),
      ("matrix_profile_len", 1000, len => () =>
        mat(Advanced.matrixProfileBlocked(synthPanel(spark, 1, len),
          m = 16, numBlocks = 32))))
    lenSuite.map { case (name, base, mk) =>
      (name, best2(mk(base)), best2(mk(base * 10)), best2(mk(base * 100)))
    }
  }
}
