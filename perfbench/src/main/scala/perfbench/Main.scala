package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run: one workload, one seed, one JVM.
  *
  * Flow: generate the seed's inputs (untimed), then `SetupCycles`
  * set-ups — each a fresh SparkSession, input registration and caching,
  * and one untimed warm-up pass — then timed passes until `--seconds`
  * have passed (at least `MinPasses`). Each pass runs every leg of the
  * workload once, in order, rebuilding its DataFrames the way a user job
  * would (a closed loop, one client).
  * With `--trace 1` the timed passes alternate untraced and traced, and
  * only the traced ones feed the per-layer numbers.
  *
  * Writes one JSON result file; `run.py` turns it into the result line.
  */
object Main {
  val SetupCycles = 2
  val MinPasses = 3
  val TagKey = "perfbench.tag"

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, dataDir: String, out: String, traceOut: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("data"), need("out"),
      need("trace-out"))
  }

  // ── output check ────────────────────────────────────────────────────

  /** Doubles rounded to 6 decimals (the repository's Verify rule), with
    * -0.0 folded into 0.0 so the hash sees one zero. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => norm(x, et))
    case st: StructType => struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** Row count plus an order-independent digest: the sum of per-row
    * xxhash64 values, kept as two 32-bit halves so the sums cannot
    * overflow. */
  def digestFrame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)): _*)
    df.select(h.as("__h")).agg(count(lit(1)).as("n"),
      coalesce(sum(col("__h").bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("__h"), 32)), lit(0L)).as("hi"))
  }

  private def digestOf(d: DataFrame): (Long, String) = {
    val r = d.collect()(0)
    (r.getLong(0), f"${r.getLong(2)}%x:${r.getLong(1)}%x")
  }

  // ── sessions ────────────────────────────────────────────────────────

  def newSession(o: Opts): SparkSession = {
    val work = Paths.get(o.dataDir).toAbsolutePath.getParent
    val s = GraftSession.withEngineDefaults(SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ── timing helpers ──────────────────────────────────────────────────

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  /** Heap in use after full GCs. Called between passes, outside their
    * timing: the heap the pass left live. The first GC lets Spark's
    * ContextCleaner drop blocks whose owners died; the second frees them
    * (one GC alone read ~85 MB higher on some passes). With a fixed-size
    * heap (run.py sets -Xms = -Xmx) the GC does not resize it, so every
    * pass starts from the same heap state. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ── one leg, one pass ───────────────────────────────────────────────

  final case class LegRun(leg: String, spanId: Int, wallNs: Long, cpuNs: Long,
      constructNs: Long, planNs: Long, executeNs: Long,
      rows: Long, digest: String, error: Option[String])

  final case class PassRun(idx: Int, traced: Boolean, spanId: Int, wallNs: Long,
      cpuNs: Long, scanNs: Long, legs: Seq[LegRun])

  final class Runner(o: Opts, wl: Workload, val spans: Spans) {
    var spark: SparkSession = _
    var ctx: Ctx = _

    private def tag(s: String): Unit = spark.sparkContext.setLocalProperty(TagKey, s)

    private def phase[T](parent: Int, name: String, t: String)(f: => T): (T, Long) = {
      tag(t)
      val t0 = spans.nowNs
      val r = f
      val t1 = spans.nowNs
      spans.add(parent, name, t0, t1)
      (r, t1 - t0)
    }

    def runLeg(p: Int, parent: Int, leg: Leg): LegRun = {
      val c0 = cpuNs
      val t0 = spans.nowNs
      val legSpan = spans.add(parent, leg.name, t0, t0)
      val base = s"$p|${leg.name}"
      var cons, plan, exec = 0L
      var rows = -1L; var digest = ""
      val err = try {
        val (d, cNs) = phase(legSpan, "construct", s"$base|construct")(digestFrame(leg.build(ctx)))
        cons = cNs
        plan = phase(legSpan, "plan", s"$base|plan")(d.queryExecution.executedPlan)._2
        val (r, e) = phase(legSpan, "execute", s"$base|execute")(digestOf(d))
        exec = e; rows = r._1; digest = r._2
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] leg ${leg.name} failed: $e")
          Some(e.toString.take(300))
      }
      val t1 = spans.nowNs
      spans.all(legSpan) = spans.all(legSpan).copy(endNs = t1)
      tag(null)
      LegRun(leg.name, legSpan, t1 - t0, cpuNs - c0, cons, plan, exec, rows, digest, err)
    }

    def runPass(p: Int, traced: Boolean): PassRun = {
      val c0 = cpuNs
      ctx.scanNs = 0L
      val t0 = spans.nowNs
      val passSpan = spans.add(-1, s"pass$p", t0, t0)
      val legs = wl.legs.map(runLeg(p, passSpan, _))
      val t1 = spans.nowNs
      spans.all(passSpan) = spans.all(passSpan).copy(endNs = t1)
      PassRun(p, traced, passSpan, t1 - t0, cpuNs - c0, ctx.scanNs, legs)
    }

    /** One set-up cycle: session, registration, warm-up pass. Returns
      * (session seconds, registration seconds, warm-up pass). */
    def setup(p: Int, sinceNs: Long, generate: SparkSession => Unit): (Double, Double, PassRun) = {
      spark = newSession(o)
      val sessionS = (System.nanoTime() - sinceNs) / 1e9
      generate(spark)
      val r0 = System.nanoTime()
      ctx = new Ctx(spark, o.dataDir)
      wl.register(ctx)
      val regS = (System.nanoTime() - r0) / 1e9
      (sessionS, regS, runPass(p, traced = false))
    }
  }

  // ── kernel rates (single thread, direct calls) ──────────────────────

  def kernelRates(seed: Long): Map[String, Double] = {
    import graft.kernels._
    val n = PanelFeatures.Len
    val series = (0 until 16).map(i => Gen.series(seed, i, n).toArray)
    def rate(work: Double)(f: => Unit): Double = {
      f // warm
      median((0 until 3).map { _ =>
        var reps = 0; val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 80000000L) { f; reps += 1 }
        reps * work / ((System.nanoTime() - t0) / 1e9)
      })
    }
    val w = PanelFeatures.DtwWindow
    val short = series.map(_.take(PanelFeatures.DtwLen))
    val m = short.head.length
    val bandCells = (0 until m).map(i => math.min(m - 1, i + w) - math.max(0, i - w) + 1).sum
    val pairs = for (i <- short.indices; j <- i + 1 until short.size) yield (i, j)
    Map(
      "kernels.dtw_band_cells_per_s" -> rate(pairs.size.toDouble * bandCells) {
        pairs.foreach { case (i, j) => sink += Elastic.dtwSakoeChiba(short(i), short(j), w) }
      },
      "kernels.pelt_points_per_s" -> rate(series.size.toDouble * n) {
        series.foreach(s => sink += Pelt.detect(s, Pelt.MeanCost, 2 * math.log(n)).length)
      },
      "kernels.ets_hw_points_per_s" -> rate(series.size.toDouble * n) {
        series.foreach(s => sink += Ets.holtWinters(s, 0.3, 0.1, 0.1, 24, true, 12).head)
      },
      "kernels.mk_points_per_s" -> rate(series.size.toDouble * n) {
        series.foreach(s => sink += MannKendall.stat(s))
      })
  }
  /** Kernel results land here so the JIT cannot drop the calls. */
  @volatile private var sink = 0.0

  // ── main ────────────────────────────────────────────────────────────

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spans = new Spans
    val runner = new Runner(o, wl, spans)
    var inputSummary: Map[String, Any] = Map.empty
    var genS = 0.0

    // Inputs are written afresh by every run (outside all timing), never
    // reused from disk: a run that skipped the generator would start its
    // timed passes with a colder JIT, and such runs measured slower and
    // twice as spread as runs that generated.
    def generate(s: SparkSession): Unit = if (inputSummary.isEmpty) {
      val g0 = System.nanoTime()
      inputSummary = wl.generate(s, o.dataDir, o.seed)
      genS = (System.nanoTime() - g0) / 1e9
    }

    // set-up: cycle 0 counts from JVM start; generation is excluded
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double, PassRun)]
    for (i <- 0 until SetupCycles) {
      if (i > 0) stopSession(runner.spark)
      val t0 = if (i == 0) jvmStartNs else System.nanoTime()
      val (sessS, regS, warm) = runner.setup(-1 - i, t0, generate)
      val total = (System.nanoTime() - t0) / 1e9 - (if (i == 0) genS else 0.0)
      setups += ((total, sessS, regS, warm))
    }
    val spark = runner.spark

    // the reference digests: the first warm-up pass; expected values for
    // known seeds are compared by run.py
    val reference: Map[String, (Long, String)] = setups.head._4.legs
      .filter(_.error.isEmpty).map(l => l.leg -> (l.rows, l.digest)).toMap
    val warmFailures = setups.flatMap(_._4.legs).count(l =>
      l.error.nonEmpty || !reference.get(l.leg).contains((l.rows, l.digest)))

    // timed passes
    val tracer = new Tracer
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val heapAfter = mutable.ArrayBuffer.empty[Double]
    heapAfterGcMb() // frees what the set-up cycles left behind
    val loadBefore = loadAvg()
    val tStart = System.nanoTime()
    var p = 0
    def enough = {
      val n = passes.size
      val traced = passes.count(_.traced)
      (System.nanoTime() - tStart) / 1e9 >= o.seconds &&
        (if (o.trace) traced >= 2 && n - traced >= 2 else n >= MinPasses)
    }
    while (!enough) {
      val traced = o.trace && p % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val pr = runner.runPass(p, traced)
      heapAfter += heapAfterGcMb()
      if (traced) {
        drain(spark, tracer, p)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      passes += pr
      p += 1
    }
    val loadAfter = loadAvg()

    val checked = passes.flatMap(_.legs)
    val failed = checked.count(l =>
      l.error.nonEmpty || !reference.get(l.leg).contains((l.rows, l.digest)))
    val untraced = passes.filterNot(_.traced)
    val e2e = Map(
      "pass_s" -> median(untraced.map(_.wallNs / 1e9)),
      "cpu_s" -> median(untraced.map(_.cpuNs / 1e9)),
      "setup_s" -> median(setups.map(_._1)),
      "heap_peak_mb" -> median(heapAfter),
      "ok_frac" -> (checked.size - failed).toDouble / checked.size)

    val perLayer =
      if (!o.trace) Map.empty[String, Double]
      else layerMetrics(o, wl, passes.toSeq, setups.map(_._2).toSeq, tracer, spans) ++
        kernelRates(o.seed)
    if (o.trace) writeTrace(o, spans, passes.toSeq, tracer)
    stopSession(spark)

    val result = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "trace" -> o.trace, "input" -> inputSummary, "generate_s" -> genS,
      "setup_cycles_s" -> setups.map(_._1).toSeq,
      "session_s" -> setups.map(_._2).toSeq,
      "register_s" -> setups.map(_._3).toSeq,
      "pass_wall_s" -> passes.map(_.wallNs / 1e9).toSeq,
      "pass_cpu_s" -> passes.map(_.cpuNs / 1e9).toSeq,
      "pass_traced" -> passes.map(_.traced).toSeq,
      "pass_leg_wall_s" -> passes.map(_.legs.map(l => l.leg -> l.wallNs / 1e9).toMap).toSeq,
      "heap_after_gc_mb" -> heapAfter.toSeq,
      "load_avg_1m" -> Seq(loadBefore, loadAfter),
      "attempted" -> checked.size, "failed" -> failed,
      "warmup_failures" -> warmFailures,
      "errors" -> checked.flatMap(l => l.error.map(e => s"${l.leg}: $e")).distinct.toSeq,
      "digests" -> reference.map { case (k, (n, d)) => k -> Map("rows" -> n, "digest" -> d) },
      "leg_wall_s" -> wl.legs.map(l => l.name ->
        median(untraced.flatMap(_.legs).filter(_.leg == l.name).map(_.wallNs / 1e9))).toMap,
      "end_to_end" -> e2e, "per_layer" -> perLayer)
    Files.writeString(Paths.get(o.out), Json.write(result))
  }

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Listener events arrive asynchronously. Run one tagged marker query
    * and wait until both listeners have seen it: every earlier event of
    * the pass has then been delivered. */
  private def drain(spark: SparkSession, t: Tracer, p: Int): Unit = {
    val tag = s"marker|$p"
    spark.sparkContext.setLocalProperty(TagKey, tag)
    val d = spark.range(1).toDF()
    t.markerQeSeen = false
    t.markerQe = d.queryExecution
    d.collect()
    spark.sparkContext.setLocalProperty(TagKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while ((t.markerSeen != tag || !t.markerQeSeen) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  // ── per-layer metrics ───────────────────────────────────────────────

  def layerMetrics(o: Opts, wl: Workload, passes: Seq[PassRun], sessionS: Seq[Double],
      t: Tracer, spans: Spans): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    def stagesOf(p: Int, leg: Option[String], phase: Option[String]) = t.stages.values.filter { s =>
      val parts = s.tag.split('|')
      parts.length == 3 && parts(0) == p.toString &&
        leg.forall(_ == parts(1)) && phase.forall(_ == parts(2))
    }
    def jobsOf(p: Int, phase: Option[String]) = t.jobTags.values.count { tg =>
      val parts = tg.split('|')
      parts.length == 3 && parts(0) == p.toString && phase.forall(_ == parts(2))
    }
    def perPass(f: PassRun => Double): Double = median(traced.map(f))
    val mb = 1e6
    def queriesOf(pr: PassRun) = {
      val s = spans.all(pr.spanId)
      t.queries.filter(q => q.startMs * 1000000L >= s.startNs - 1000000L &&
        q.startMs * 1000000L <= s.endNs)
    }
    val pass = Map(
      "core.session_s" -> median(sessionS),
      "core.scan_s" -> perPass(_.scanNs / 1e9),
      "core.scan_mb" -> perPass(p => stagesOf(p.idx, None, None).map(_.inputB).sum / mb),
      "ops.construct_s" -> perPass(_.legs.map(_.constructNs).sum / 1e9),
      "ops.construct_jobs" -> perPass(p => jobsOf(p.idx, Some("construct")).toDouble),
      "plans.plan_s" -> perPass(_.legs.map(_.planNs).sum / 1e9),
      "plans.exchanges" -> perPass(p => queriesOf(p).map(_.exchanges).sum.toDouble),
      "plans.native_execs" -> perPass(p => queriesOf(p).map(_.nativeExecs).sum.toDouble),
      "spark.jobs" -> perPass(p => jobsOf(p.idx, None).toDouble),
      "spark.tasks" -> perPass(p => stagesOf(p.idx, None, None).map(_.taskMs.size).sum.toDouble),
      "spark.executor_run_s" -> perPass(p => stagesOf(p.idx, None, None).map(_.runMs).sum / 1e3),
      "spark.executor_cpu_s" -> perPass(p => stagesOf(p.idx, None, None).map(_.cpuNs).sum / 1e9),
      "spark.shuffle_write_mb" -> perPass(p => stagesOf(p.idx, None, None).map(_.shuffleWriteB).sum / mb),
      "spark.shuffle_read_mb" -> perPass(p => stagesOf(p.idx, None, None).map(_.shuffleReadB).sum / mb),
      "spark.fetch_wait_s" -> perPass(p => stagesOf(p.idx, None, None).map(_.fetchWaitMs).sum / 1e3),
      "spark.gc_s" -> perPass(p => stagesOf(p.idx, None, None).map(_.gcMs).sum / 1e3),
      "spark.spill_mb" -> perPass(p => stagesOf(p.idx, None, None).map(_.spillB).sum / mb),
      "spark.straggler_s" -> perPass(p => stagesOf(p.idx, None, None).map(_.stragglerMs).sum / 1e3),
      "spark.idle_core_s" -> perPass(p => p.wallNs / 1e9 * o.cores -
        stagesOf(p.idx, None, None).map(_.runMs).sum / 1e3),
      "trace.overhead_s" -> (median(traced.map(_.wallNs / 1e9)) - median(untraced.map(_.wallNs / 1e9))),
      "trace.span_coverage_min" -> traced.flatMap(_.legs).map { l =>
        (l.constructNs + l.planNs + l.executeNs).toDouble / l.wallNs }.minOption.getOrElse(0.0))
    val legNames = wl.legs.map(_.name).toSet
    val legs = Workloads.all.flatMap(_.legs).flatMap { leg =>
      val mine = legNames(leg.name)
      def m(f: (PassRun, LegRun) => Double) =
        if (!mine) 0.0 else median(traced.flatMap(p => p.legs.filter(_.leg == leg.name).map(f(p, _))))
      Seq(
        s"leg.${leg.name}.wall_s" -> m((_, l) => l.wallNs / 1e9),
        s"leg.${leg.name}.cpu_s" -> m((_, l) => l.cpuNs / 1e9),
        s"leg.${leg.name}.straggler_s" -> m((p, _) =>
          stagesOf(p.idx, Some(leg.name), None).map(_.stragglerMs).sum / 1e3))
    }
    pass ++ legs
  }

  /** Writes out every span of the traced passes, with Spark stage spans
    * under the phase that submitted them, and each span's self time. */
  def writeTrace(o: Opts, spans: Spans, passes: Seq[PassRun], t: Tracer): Unit = {
    val byTag = mutable.Map.empty[String, Int]
    passes.filter(_.traced).foreach { pr =>
      pr.legs.foreach { l =>
        spans.all.filter(_.parent == l.spanId).foreach(ph =>
          byTag(s"${pr.idx}|${l.leg}|${ph.name}") = ph.id)
      }
    }
    t.stages.values.toSeq.sortBy(_.stageId).foreach { s =>
      byTag.get(s.tag).foreach { parent =>
        spans.add(parent, s"stage${s.stageId}", s.submitMs * 1000000L, s.completeMs * 1000000L)
      }
    }
    val tracedRoots = passes.filter(_.traced).map(_.spanId).toSet
    def rootOf(id: Int): Int = {
      var c = id
      while (spans.all(c).parent >= 0) c = spans.all(c).parent
      c
    }
    val self = spans.selfNs
    val kept = spans.all.filter(s => tracedRoots(rootOf(s.id)))
    val legCoverage = passes.filter(_.traced).flatMap(_.legs).map { l =>
      Map("pass" -> passes.find(_.legs.contains(l)).map(_.idx).getOrElse(-1),
        "leg" -> l.leg, "wall_s" -> l.wallNs / 1e9,
        "construct_plan_execute_share" -> (l.constructNs + l.planNs + l.executeNs).toDouble / l.wallNs)
    }
    Files.writeString(Paths.get(o.traceOut), Json.write(Map(
      "workload" -> o.workload, "seed" -> o.seed,
      "leg_coverage" -> legCoverage,
      "spans" -> kept.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "dur_ms" -> s.durNs / 1e6,
        "self_ms" -> self(s.id) / 1e6)))))
  }
}

/** Minimal JSON for the result files (maps, sequences, strings, numbers,
  * booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => write(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => write(other.toString)
  }
}
