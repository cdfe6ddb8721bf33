package graft.streaming

import graft.TestSpark
import graft.streaming.StreamingOps.Obs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Drives the stateful streaming operators through a real streaming source
  * (MemoryStream → flatMapGroupsWithState → memory sink), including state
  * persistence across triggers — the path a Kafka deployment would take. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def obs(id: String, h: Int, y: Double) =
    Obs(id, new Timestamp(1704067200000L + h * 3600000L), y)

  test("streaming ETS maintains per-series state across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Obs]
    val out = StreamingOps.streamingEts(source.toDS(), alpha = 0.3, beta = 0.1)
    val query = out.writeStream.format("memory").queryName("ets_out")
      .outputMode("append").start()
    try {
      source.addData((0 until 5).map(i => obs("a", i, 10.0 + i)): _*)
      query.processAllAvailable()
      source.addData((5 until 10).map(i => obs("a", i, 10.0 + i)): _*)
      source.addData((0 until 3).map(i => obs("b", i, 100.0)): _*)
      query.processAllAvailable()
      val rows = spark.table("ets_out").as[StreamingOps.EtsOutput].collect()
      assert(rows.count(_.uniqueId == "a") == 10)
      assert(rows.count(_.uniqueId == "b") == 3)
      // state carried across the trigger boundary: the batch-fold level at
      // t=9 must match a single-shot fold over all 10 points
      val ys = (0 until 10).map(i => 10.0 + i).toArray
      val expected = graft.kernels.Ets.holt(ys, 0.3, 0.1, 1)(0)
      val lastA = rows.filter(_.uniqueId == "a").maxBy(_.ts.getTime)
      assert(math.abs(lastA.forecastNext - expected) < 1e-9,
        s"streamed ${lastA.forecastNext} vs batch $expected")
      // constant series: level is the constant, trend 0
      val lastB = rows.filter(_.uniqueId == "b").maxBy(_.ts.getTime)
      assert(math.abs(lastB.level - 100.0) < 1e-9)
      assert(math.abs(lastB.trend) < 1e-9)
    } finally query.stop()
  }

  test("sliding window keeps a bounded tail across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Obs]
    val out = StreamingOps.slidingWindow(source.toDS(), windowSize = 4)
    val query = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      source.addData((0 until 3).map(i => obs("w", i, i.toDouble)): _*)
      query.processAllAvailable()
      source.addData((3 until 7).map(i => obs("w", i, i.toDouble)): _*)
      query.processAllAvailable()
      val rows = spark.table("win_out").as[StreamingOps.WindowOutput].collect()
      assert(rows.length == 7)
      val last = rows.maxBy(_.ts.getTime)
      assert(last.window.toSeq == Seq(3.0, 4.0, 5.0, 6.0), last.window.toSeq)
      assert(rows.forall(_.windowLen <= 4))
    } finally query.stop()
  }

  test("streaming global ridge: incremental Gram equals the batch fit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lags = Seq(1, 2)
    val p = lags.length + 1
    val source = MemoryStream[Obs]
    val feats = StreamingOps.streamingLagFeatures(source.toDS(), lags)
    val query = feats.writeStream.format("memory").queryName("feat_out")
      .outputMode("append").start()
    val rng = new scala.util.Random(3L)
    val data = for {
      id <- Seq("a", "b")
      i <- 0 until 40
    } yield obs(id, i, 5.0 + 0.8 * i + rng.nextGaussian() * 0.1)
    try {
      source.addData(data.take(30): _*)
      query.processAllAvailable()
      source.addData(data.drop(30): _*)
      query.processAllAvailable()
      val gramRow = spark.table("feat_out")
        .agg(StreamingOps.gramColumns(p).head, StreamingOps.gramColumns(p).tail: _*)
        .head()
      val streamed = StreamingOps.solveRidgeFromGram(gramRow, p)
      val df = data.toDF()
      val batch = StreamingOps.globalRidgeBatch(spark, df,
        "uniqueId", "ts", "y", lags)
      for (i <- 0 until p)
        assert(math.abs(streamed(i) - batch(i)) < 1e-6,
          s"coef $i: ${streamed(i)} vs ${batch(i)}")
    } finally query.stop()
  }

  test("streaming Kalman converges toward the observation level") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Obs]
    val out = StreamingOps.streamingKalman(source.toDS(), q = 0.01, r = 1.0)
    val query = out.writeStream.format("memory").queryName("kalman_out")
      .outputMode("append").start()
    try {
      source.addData((0 until 30).map(i => obs("s", i, 7.0)): _*)
      query.processAllAvailable()
      val rows = spark.table("kalman_out").as[StreamingOps.KalmanOutput].collect()
      assert(rows.length == 30)
      val last = rows.maxBy(_.ts.getTime)
      assert(math.abs(last.filtered - 7.0) < 0.1)
      assert(last.variance < 1.0)
    } finally query.stop()
  }

  test("kalmanBatch is value-identical to the streamed filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = (0 until 20).map(i => obs("k", i, math.sin(i * 0.4) * 3 + 10))
    // reference: the scalar local-level Kalman recursion, written out here
    val (q, r) = (1e-3, 1.0)
    val expected = data.scanLeft((0.0, 1e6)) { case ((x, p), o) =>
      val pPred = p + q
      val k = pPred / (pPred + r)
      (x + k * (o.y - x), (1.0 - k) * pPred)
    }.tail
    val source = MemoryStream[Obs]
    val out = StreamingOps.streamingKalman(source.toDS(), q, r)
    val query = out.writeStream.format("memory").queryName("kb_out")
      .outputMode("append").start()
    try {
      source.addData(data.take(9): _*)
      query.processAllAvailable()
      source.addData(data.drop(9): _*)
      query.processAllAvailable()
      val streamed = spark.table("kb_out").as[StreamingOps.KalmanOutput]
        .collect().sortBy(_.ts.getTime)
      val batch = StreamingOps.kalmanBatch(spark, data.toDF(),
        "uniqueId", "ts", "y", q, r).as[StreamingOps.KalmanOutput]
        .collect().sortBy(_.ts.getTime)
      assert(streamed.length == 20 && batch.length == 20)
      for (rows <- Seq(streamed, batch); (o, (x, p)) <- rows.zip(expected))
        assert(o.filtered == x && o.variance == p, s"mismatch at ${o.ts}: $o vs ($x, $p)")
    } finally query.stop()
  }

  test("windowBatch is value-identical to the streamed sliding window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = (0 until 15).map(i => obs("w2", i, i.toDouble * 1.5))
    // reference: each prefix's last four values
    val expected = (1 to data.length).map(n => data.take(n).map(_.y).takeRight(4))
    val source = MemoryStream[Obs]
    val out = StreamingOps.slidingWindow(source.toDS(), windowSize = 4)
    val query = out.writeStream.format("memory").queryName("wb_out")
      .outputMode("append").start()
    try {
      source.addData(data: _*)
      query.processAllAvailable()
      val streamed = spark.table("wb_out").as[StreamingOps.WindowOutput]
        .collect().sortBy(_.ts.getTime)
      val batch = StreamingOps.windowBatch(spark, data.toDF(),
        "uniqueId", "ts", "y", windowSize = 4).as[StreamingOps.WindowOutput]
        .collect().sortBy(_.ts.getTime)
      assert(streamed.length == 15 && batch.length == 15)
      for (rows <- Seq(streamed, batch); (o, tail) <- rows.zip(expected))
        assert(o.window.toSeq == tail && o.windowLen == tail.length,
          s"at ${o.ts}: ${o.window.toSeq} vs $tail")
    } finally query.stop()
  }

  test("batch folds order rows within one millisecond by their microseconds") {
    import spark.implicits._
    def at(micros: Int, y: Double, tie: Long) = {
      val ts = new Timestamp(1704067200000L)
      ts.setNanos(micros * 1000)
      Obs("m", ts, y, tie)
    }
    // the tie-break disagrees with the µs order; time must win
    val data = Seq(at(100, 1.0, tie = 2L), at(200, 2.0, tie = 1L))
    val last = StreamingOps.windowBatch(spark, data.toDF(),
        "uniqueId", "ts", "y", windowSize = 2, tieCol = Some("tie"))
      .as[StreamingOps.WindowOutput].collect().maxBy(_.windowLen)
    assert(last.window.toSeq == Seq(1.0, 2.0))
  }

  test("streaming curation gate matches the batch composition row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "Contact me at bob@example.com for the details and the offer."),
      (2L, "x"),
      (3L, "der die und das ist nicht ein gutes Beispiel aber es reicht."),
      (4L, "The quick brown fox jumps over the lazy dog and that is fine with everyone here."),
      (5L, "spam spam spam spam spam spam spam spam spam spam spam spam"))
    val source = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingCurate(
      source.toDS().toDF("doc_id", "text"))
    val query = out.writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      source.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("curate_out")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      // the same op applied in batch mode (pure exprs → identical plan)
      val batch = StreamingOps.streamingCurate(docs.toDF("doc_id", "text"))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      // the fixture exercises more than one verdict
      val reasons = batch.map(_(1)).distinct
      assert(reasons.size >= 3, s"verdict variety too low: $reasons")
    } finally query.stop()
  }

  test("streaming dedup emits each fingerprint once across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[StreamingOps.Doc]
    val out = StreamingOps.streamingDedup(source.toDS(), "10 minutes")
    val query = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // timestamps must sit above epoch 0: the initial watermark is 0, and
    // rows with event-time at/behind the watermark are dropped as late
    def doc(id: Long, sec: Int, text: String) =
      StreamingOps.Doc(id, new java.sql.Timestamp((86400 + sec) * 1000L), text)
    try {
      source.addData(doc(1, 0, "alpha beta"), doc(2, 1, "gamma delta"))
      query.processAllAvailable()
      // second trigger: two dups of doc 1's fingerprint — one normalized
      // ("Alpha   beta"), one exact — plus a fresh doc. Which row survives
      // WITHIN a batch is arbitrary, so dups go in a later trigger where
      // the carried state makes suppression deterministic.
      source.addData(doc(3, 2, "Alpha   beta"), doc(4, 3, "alpha beta"),
        doc(5, 4, "epsilon"))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("docId")
        .as[Long].collect().sorted.toSeq
      // docs 3 and 4 hit doc 1's state from trigger 1, so only 1, 2, 5
      assert(ids == Seq(1L, 2L, 5L), s"got $ids")
    } finally query.stop()
  }
}
