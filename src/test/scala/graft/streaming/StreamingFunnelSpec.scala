package graft.streaming

import graft.TestSpark
import graft.TestSpark.jobsDuring
import graft.ops.{Decontam, Sampling, TextOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed streaming funnel (dedup → exact decontam → curation
  * gate) must equal the batch doc_curation_pipeline composition on the
  * same data, restricted to first-seen documents (VERDICT r6 ask #9 —
  * the full funnel, not just the stateless gate). */
class StreamingFunnelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def doc(id: Long, sec: Int, text: String) =
    StreamingOps.Doc(id, new java.sql.Timestamp((86400 + sec) * 1000L), text)

  /** The doc_curation_pipeline composition (same exprs as SparkEntry). */
  private def batchFunnel(docs: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame) = {
    val metrics = TextOps.curationMetrics(docs)
    val cont = Decontam.ngramOverlap(docs, bench, n = 5)
      .select("doc_id", "contaminated")
    val joined = Sampling.stableSplit(metrics.join(cont, "doc_id"), "doc_id")
    val reason = TextOps.curationReason(Some(col("contaminated")))
    joined.select(col("doc_id"), reason.as("reason"),
      (reason === "keep").as("keep"), col("split"))
  }

  test("stream funnel == batch pipeline on a fixture hitting every gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keepText = "the old town market opens at dawn and local farmers " +
      "bring fresh produce to sell while early visitors walk among the " +
      "stalls looking for bread fruit cheese and flowers then by noon " +
      "the square grows quiet as vendors pack their carts and head home " +
      "along narrow roads that wind past fields toward small villages " +
      "where evening meals are shared with family and friends after a " +
      "long day of honest work in the open air"
    val trigger1 = Seq(
      doc(1, 0, "Contact me at bob@example.com for the details and the offer."),
      doc(2, 1, "?!?!#@"),
      doc(3, 2, "der die und das ist nicht ein gutes Beispiel aber es reicht."),
      doc(4, 3, keepText),
      doc(5, 4, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      doc(6, 5, "held out benchmark question about the meaning of life here"))
    // dups arrive in a LATER trigger so carried dedup state makes
    // suppression deterministic (within-batch survivor is arbitrary)
    val trigger2 = Seq(
      doc(7, 6, keepText),
      doc(8, 7, "Contact  me at BOB@example.com for the details and the offer."),
      doc(9, 8, "another perfectly ordinary english document with the usual words that is fine"))
    val bench = Seq((100L, "the meaning of life here is a question philosophers debate"))
      .toDF("doc_id", "text")

    val source = MemoryStream[StreamingOps.Doc]
    val out = StreamingOps.streamingFunnel(source.toDS(), bench, n = 5,
      watermarkDelay = "10 minutes")
    val query = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      source.addData(trigger1: _*)
      query.processAllAvailable()
      source.addData(trigger2: _*)
      query.processAllAvailable()
      val streamed = spark.table("funnel_out")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq

      val allDocs = (trigger1 ++ trigger2).map(d => (d.docId, d.text))
        .toDF("doc_id", "text")
      val firstSeen = Seq(1L, 2L, 3L, 4L, 5L, 6L, 9L)
      val batch = batchFunnel(allDocs, bench)
        .filter(col("doc_id").isin(firstSeen: _*))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq

      assert(streamed == batch)
      val reasons = batch.map(r => r(1).toString)
      assert(Set("pii", "low_quality", "non_english", "repetitive",
        "contaminated", "keep").subsetOf(reasons.toSet),
        s"fixture must fire every gate, got $reasons")
      assert(!streamed.map(_.head).contains(7L) &&
        !streamed.map(_.head).contains(8L), "dups must be suppressed")
    } finally query.stop()
  }

  test("building the funnel starts one job: the bench-gram collect") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the meaning of life here is a question philosophers debate"))
      .toDF("doc_id", "text")
    val source = MemoryStream[StreamingOps.Doc]
    val (_, jobs) = jobsDuring(
      StreamingOps.streamingFunnel(source.toDS(), bench, n = 5))
    assert(jobs === 1)
  }

  test("stream funnel == batch pipeline on the real sf0.001 corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.IO.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    // single-trigger comparison is only well-defined duplicate-free
    val nDup = docs.select(TextOps.fingerprint(col("text")).as("f"))
      .groupBy("f").count().filter(col("count") > 1).count()
    assert(nDup == 0, "precondition: raw corpus has no dup fingerprints")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val rows = docs.collect().zipWithIndex
      .map { case (r, i) => doc(r.getLong(0), i, r.getString(1)) }

    val source = MemoryStream[StreamingOps.Doc]
    val out = StreamingOps.streamingFunnel(source.toDS(), bench, n = 5)
    val query = out.writeStream.format("memory").queryName("funnel_real_out")
      .outputMode("append").start()
    try {
      source.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("funnel_real_out")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val batch = batchFunnel(docs, bench)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed.length == batch.length && streamed == batch)
      assert(streamed.map(r => r(1).toString).distinct.size >= 2,
        "real corpus should exercise more than one verdict")
    } finally query.stop()
  }
}
