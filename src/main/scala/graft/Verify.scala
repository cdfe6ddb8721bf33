package graft
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Prints one
  * `[census] <name> build_s=… write_s=… build_jobs=… write_jobs=…` line
  * per query (build: the DataFrame's construction, before any action). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local runs
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same engine defaults as Bench (graft.core.GraftSession): the gate
    // runs the configuration the bench measures (r12 verdict #7)
    val spark = graft.core.GraftSession.withEngineDefaults(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Pin the NM-fitted parameters for the four gate-expensive oracles
    // (VERDICT r5 ask #1). On failure fall back to the full NM-replay SQL
    // — correct but slow — rather than zeroing the round's correctness.
    try OraclePins.compute(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] oracle pin computation failed " +
        s"(falling back to full NM-replay oracles): ${e.getMessage}")
    }
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    /** `f`'s value, seconds and Spark jobs started. */
    def census[T](f: => T): (T, Double, Int) = {
      GraftListenerBridge.waitUntilEmpty(sc)
      val (j0, t0) = (jobs.get, System.nanoTime)
      val out = try f finally GraftListenerBridge.waitUntilEmpty(sc)
      (out, (System.nanoTime - t0) / 1e9, jobs.get - j0)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val (df, buildS, buildJobs) = census(fn(spark, sfDir))
        val (_, writeS, writeJobs) = census(
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        println(f"[census] $name build_s=$buildS%.3f write_s=$writeS%.3f " +
          s"build_jobs=$buildJobs write_jobs=$writeJobs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
