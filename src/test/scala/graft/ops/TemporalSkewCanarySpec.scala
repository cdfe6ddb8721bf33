package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew canary for the temporal-join tier: one key carrying 50% of both
  * sides is the worst shape for a by-key merge — every row of the hot
  * key lands in one shuffle partition and is sorted by one task.
  *
  * Operating envelope pinned here: correctness is unaffected (the match
  * is per-key, so co-resident cold keys in the same hash partition don't
  * interleave), including when the query-stage rule splits the hot left
  * partition against its replicated right partition (lowered Spark
  * skewJoin thresholds make the KB-scale fixture qualify). A per-key
  * ORDERED scan is sequential per key in ANY engine (kdb's aj, polars'
  * join_asof single-thread the key too). */
class TemporalSkewCanarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nRows = 20000 // per side; key 0 owns half of each side

  /** 50%-skewed panel: even i → hot key 0, odd i → spread keys. */
  private def side(offsetUs: Long): DataFrame = {
    import spark.implicits._
    (0 until nRows).map { i =>
      val k = if (i % 2 == 0) 0L else 1L + (i % 97)
      // per-key strictly increasing ts: hot key advances every 2 µs
      (k, i.toLong * 2 + offsetUs, i.toDouble)
    }.toDF("k", "tu", "v")
  }

  test("asofJoin: 50%-hot key stays correct under skew") {
    val l = side(offsetUs = 1)  // left rows sit 1µs after the matching right
    val r = side(offsetUs = 0).withColumnRenamed("v", "rv")
    val out = TemporalJoins.asofJoin(l, r, Seq("k"), "tu", "tu", Seq("rv"))
    // every left row has a right row exactly 1µs earlier with the same
    // payload index — the carry must pick exactly that row, hot or cold
    val bad = out.filter(col("asof_ts") =!= col("tu") - 1 ||
      col("rv") =!= col("v")).count()
    assert(bad == 0, s"$bad mismatched carries under skew")
    assert(out.count() == nRows)
  }

  test("rangeJoinNative: query-stage split of the hot key == unsplit plan") {
    import graft.SkewSplitTesting._
    val l = side(offsetUs = 1)
    // each right row opens a 3 µs interval: a hot-key probe at 2i+1
    // falls in exactly the interval [2i, 2i+3). The right side gets a
    // map layout unlike the left's, so a split that read only part of
    // the right partition would miss matches.
    val r = side(offsetUs = 0).repartition(3).select(col("k"),
      col("tu").as("s"), (col("tu") + 3).as("e"), col("v").as("rv"))
    def build = TemporalJoins.rangeJoinNative(l, r, Seq("k"), "tu", "s", "e")
    val ((split, nSplit), (plain, nPlain)) = withConfs(spark, LowThresholds) {
      (runSplit(build), withConfs(spark, SkewOff)(runSplit(build)))
    }
    assert(nSplit === 1, "the hot left partition must be split")
    assert(nPlain === 0)
    assert(split === plain)
    // brute force: each probe against every interval of its key
    val ivs = r.collect().groupBy(_.getLong(0)).map { case (k, rows) =>
      k -> (rows.map(_.getLong(1)), rows.map(_.getLong(2)))
    }
    val expected = l.collect().map { p =>
      val t = p.getLong(1)
      ivs.get(p.getLong(0)).fold(0) { case (ss, es) =>
        ss.indices.count(i => ss(i) <= t && t < es(i))
      }
    }.sum
    assert(split.size === expected)
  }

  test("sessionize: hot key session ids stay per-key consistent") {
    val df = side(offsetUs = 0)
    // gap 1µs, spacing 2µs → every row of every key is its own session
    val out = TemporalJoins.sessionize(df, Seq("k"), "tu", gapUs = 1)
    val perKey = out.groupBy("k").agg(
      count(lit(1)).as("n"), max("session_id").as("maxs"))
    val broken = perKey.filter(col("maxs") =!= col("n")).count()
    assert(broken == 0, "session ids must be dense 1..n per key")
  }
}
