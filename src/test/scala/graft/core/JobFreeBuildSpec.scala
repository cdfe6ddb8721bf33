package graft.core

import java.nio.file.Files

import graft.TestSpark
import graft.TestSpark.jobsDuring
import graft.ops.{Distances, TemporalJoins}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Building a DataFrame starts no Spark job the caller did not ask for:
  * every public [[TemporalJoins]] op (the as-of joins' skew handling
  * waits for shuffle statistics at run time), the [[Distances]] pair
  * joins (always broadcast, no series count), the batch entry points of
  * the streaming folds and a re-read of an
  * unchanged table through [[IO.table]] (whose schema and row-group
  * count are memoized). Also pins the memo's invalidation and the
  * row-group-aware scan width. */
class JobFreeBuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft_io_spec").toString

  test("building asofJoin and asofJoinNative above the old 16 MB estimate starts no job") {
    val ev = spark.range(0L, 4000000L).select(
      (col("id") % 1000).as("k"),
      timestamp_micros(col("id") * 1000000L).cast("timestamp_ntz").as("t"),
      (col("id") * 0.5).as("v"))
    val l = ev.filter(col("id") % 2 === 0).select("k", "t")
    val r = ev.filter(col("id") % 2 === 1).select(col("k"), col("t"),
      col("v").as("rv"))
    val est = org.apache.spark.sql.GraftPlanBridge.analyzed(l).stats.sizeInBytes +
      org.apache.spark.sql.GraftPlanBridge.analyzed(r).stats.sizeInBytes
    assert(est >= BigInt(16L * 1024 * 1024), s"estimate $est below 16 MB")
    val (_, jobs) = jobsDuring {
      TemporalJoins.asofJoin(l, r, Seq("k"), "t", "t", Seq("rv"))
      TemporalJoins.asofJoinNative(l, r, Seq("k"), "t", "t", Seq("rv"),
        direction = "nearest")
    }
    assert(jobs === 0)
  }

  test("building every other public TemporalJoins op starts no job") {
    val ev = spark.range(0L, 400000L).select(
      (col("id") % 1000).as("k"),
      timestamp_micros(col("id") * 1000000L).cast("timestamp_ntz").as("t"),
      (col("id") * 0.5).as("v"))
    val l = ev.filter(col("id") % 2 === 0).select("k", "t")
    val r = ev.filter(col("id") % 2 === 1).select(col("k"), col("t"),
      col("v").as("rv"))
    val r2 = r.select(col("k"), col("t"), (col("rv") * 2.0).as("rv2"))
    val iv = ev.filter(col("id") % 3 === 0).select(col("k"),
      col("t").as("s"),
      (col("t") + expr("INTERVAL 90 SECONDS")).as("e"), col("v").as("iv"))
    val lIv = iv.select(col("k"), col("s").as("ls"), col("e").as("le"))
    val hour = 3600L * 1000000L
    val (_, jobs) = jobsDuring {
      TemporalJoins.rangeJoin(l, iv, Seq("k"), "t", "s", "e", bucketUs = hour)
      TemporalJoins.rangeJoinNative(l, iv, Seq("k"), "t", "s", "e")
      TemporalJoins.overlapJoin(lIv, iv, Seq("k"), "ls", "le", "s", "e",
        bucketUs = hour)
      TemporalJoins.overlapJoinNative(lIv, iv, Seq("k"), "ls", "le", "s", "e")
      TemporalJoins.sessionize(l, Seq("k"), "t", gapUs = 60L * 1000000L)
      TemporalJoins.pointInTimeJoin(l, Seq("k"), "t",
        Seq((r, "t", Seq("rv"), None), (r2, "t", Seq("rv2"), Some(hour))))
    }
    assert(jobs === 0)
  }

  test("building pairwise, pairwiseMulti and pairwiseCross starts no job") {
    implicit val pc: PanelCols = PanelCols()
    val panel = spark.range(0L, 40L * 25).select(
      (col("id") / 25).cast("long").as("unique_id"),
      timestamp_micros((col("id") % 25) * 3600000000L).as("ds"),
      sin(col("id") / 5.0).as("y"), cos(col("id") / 7.0).as("y2"))
    val (_, jobs) = jobsDuring {
      Distances.pairwise(panel, "dtw")
      Distances.pairwise(panel, "dtw", Map("window" -> 3.0),
        maxDist = Some(2.0), topK = 3)
      Distances.pairwiseMulti(panel, Seq("y", "y2"), "dtw_multi")
      Distances.pairwiseCross(panel, panel.filter(col("unique_id") < 5), "dtw", topK = 2)
    }
    assert(jobs === 0)
  }

  test("building the batch streaming folds starts no job") {
    val ev = spark.range(0L, 2000L).select(
      (col("id") % 20).as("k"),
      timestamp_micros(col("id") * 1000000L).as("t"),
      sin(col("id") / 5.0).as("v"), col("id").as("tie"))
    val tie = Some("tie")
    val (_, jobs) = jobsDuring {
      StreamingOps.etsBatch(spark, ev, "k", "t", "v", tieCol = tie)
      StreamingOps.kalmanBatch(spark, ev, "k", "t", "v", tieCol = tie)
      StreamingOps.windowBatch(spark, ev, "k", "t", "v", windowSize = 5,
        tieCol = tie)
      StreamingOps.enkfBatch(spark, ev, "k", "t", "v", tieCol = tie)
      StreamingOps.pfBatch(spark, ev, "k", "t", "v", tieCol = tie)
    }
    assert(jobs === 0)
  }

  test("a second IO.table call on an unchanged file starts no job") {
    val dir = tmpDir()
    spark.range(0L, 500L).select(col("id").as("a"), (col("id") * 2.0).as("b"))
      .coalesce(1).write.parquet(s"$dir/memo.parquet")
    val first = IO.table(spark, dir, "memo")
    val (second, jobs) = jobsDuring(IO.table(spark, dir, "memo"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.count() === 500L)
  }

  test("IO.table returns the new schema after a table is overwritten") {
    val dir = tmpDir()
    spark.range(0L, 10L).select(col("id").as("a"))
      .write.parquet(s"$dir/inv.parquet")
    assert(IO.table(spark, dir, "inv").columns.toSeq === Seq("a"))
    spark.range(0L, 10L).select(col("id").cast("string").as("b"),
        (col("id") * 1.5).as("c"))
      .write.mode("overwrite").parquet(s"$dir/inv.parquet")
    val again = IO.table(spark, dir, "inv")
    assert(again.columns.toSeq === Seq("b", "c"))
    assert(again.schema("b").dataType.typeName === "string")
    assert(again.count() === 10L)
  }

  test("scan normalization fires on a small file with many row groups") {
    val dir = tmpDir()
    // one ~0.5 MB file (one scan split) cut into many 16 KB row groups;
    // random doubles keep it incompressible, above the 128 KB floor
    spark.range(0L, 40000L).select(col("id").as("event_id"),
        rand(7).as("v1"), rand(11).as("v2"))
      .coalesce(1).write.option("parquet.block.size", 16384)
      .parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.rdd.getNumPartitions === 1)
    assert(IO.effectiveScanUnits(raw) === 1,
      "many row groups in one split still scan as one task")
    assert(spark.sparkContext.defaultParallelism >= 4)
    assert(IO.table(spark, dir, "events").rdd.getNumPartitions === 32,
      "the one-task scan must be normalized to 32 partitions")
  }
}
