package graft.tools

import graft.BenchLegs
import graft.BenchLegs.{PC, leg}
import graft.core.IO
import graft.ops._
import org.apache.spark.sql.functions._

/** Physical-plan audit: prints `explain(formatted)` extracts for the
  * engine's core plan shapes so shuffle-count / pushdown / broadcast
  * regressions are visible, and exits non-zero when a plan loses
  * whole-stage codegen entirely (the regression this audit exists to
  * catch). Where a plan is also a bench leg, the body comes from
  * [[graft.BenchLegs]]. Run: sbt "runMain graft.tools.PlanAudit [sfDir]". */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = BenchLegs.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new BenchLegs.Ctx(spark, dir)
    def docs = IO.documents(spark, dir)

    var failures = List.empty[String]
    def audit(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      // run the query first: under AQE the codegen spans only exist in the
      // FINAL adaptive plan (pre-execution toString has no `*(n)` markers —
      // the r5 wholestage_spans=0 bug)
      df.collect()
      val full = df.queryExecution.executedPlan.toString()
      // AQE prints "== Final Plan ==" then "== Initial Plan ==" — keep only
      // the final section so exchanges aren't double-counted
      val plan = full.split("== Initial Plan ==")(0)
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      val scans = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      val broadcasts = plan.linesIterator.count(_.contains("Broadcast"))
      // codegen spans render as `*(n) Operator` prefixes — count distinct
      // span ids (r5 verdict fix #2)
      val codegen = plan.linesIterator
        .flatMap(l => "\\*\\((\\d+)\\)".r.findFirstMatchIn(l).map(_.group(1)))
        .toSet.size
      println(s"\n===== $name =====")
      println(s"exchanges=$exchanges broadcasts=$broadcasts wholestage_spans=$codegen")
      println(scans.take(2000))
      if (codegen == 0) failures ::= name
    }

    val ev = IO.events(spark, dir)
    audit("window_feature_pipeline (expect 1 exchange, pruned scan)",
      Features.rollingFeatures(Features.lagFeatures(ev, Seq(1, 7)), Seq(7))
        .select("user_id", "ts", "value_lag_1", "value_rolling_mean_7"))
    audit("q1_agg (expect partial agg before exchange)",
      leg("q1_agg").body(ctx))
    audit("lag only 2 cols (expect 3-col ReadSchema)",
      ev.select(col("user_id"), col("ts"),
        lag(col("value"), 1).over(PC.w).as("l1")))
    audit("emb_knn (expect broadcast join)",
      graft.SparkEntry.queries("emb_knn_brute")(spark, dir))
    audit("pairwise dtw (expect 1 shuffle + broadcast self-join)",
      Distances.pairwise(ev, "dtw"))
    audit("naive forecast (expect reused shuffle on user_id)",
      ForecastBaselines.naive(ev, 7))
    audit("multiForecast ses+hw (expect ONE exchange for both models)",
      ForecastBaselines.multiForecast(ev, 12, Seq(
        "ses" -> (ys => graft.kernels.Ets.ses(ys, 0.3, 12)),
        "hw" -> (ys => graft.kernels.Ets.holtWinters(ys, 0.3, 0.1, 0.1, 24, true, 12)))))
    audit("auto_arima (expect ONE exchange, grouped kernel)",
      Advanced.autoArima(ev, h = 5, maxP = 1, maxQ = 1))
    audit("pipeline forecast (expect grouped tails + seriesMeta, no driver matrix)",
      Pipeline.pipelineForecast(ev,
        Pipeline.fitPipeline(ev, lags = Seq(1, 2)), h = 3))
    audit("enbpi predict (expect broadcast coefs + grouped tails)",
      Conformal.enbpiPredict(ev, Conformal.enbpiFit(ev, lags = 2, b = 3), h = 2))
    audit("mstl grouped-kernel production path (expect 1 grouped shuffle)",
      Decomposition.mstlGrouped(ev, Seq(12, 24)))
    audit("mstl row-level oracle twin (per-pass window + phase-mean join — oracle-replayable, not the production path)",
      Decomposition.mstl(ev, Seq(12, 24)))
    audit("dedup groups (expect edge-list joins only, corpus never shuffles)",
      Dedup.duplicateGroups(
        BenchLegs.minhashLsh.body(docs.select("doc_id", "text"))))
    audit("decontaminate (expect BENCH side broadcast, corpus never shuffles text)", {
      val d = docs
      Decontam.ngramOverlap(d, d.filter(col("doc_id") % 20 === 0), n = 5)
    })
    audit("pii scrub (expect scan-only: 0 exchanges, pure regexp project)",
      TextOps.piiMetrics(docs)
        .select("doc_id", "n_emails", "pii_flag"))
    audit("semdedup (expect cell-keyed self-join, no all-pairs)",
      leg("semdedup").body(ctx))
    audit("pca project (expect scan + broadcast map, ZERO exchanges)", {
      val emb = IO.embeddings(spark, dir)
      Embeddings.pcaProject(emb, Embeddings.pcaFit(emb, k = 4))
    })
    audit("unigram logprob (expect broadcast vocab join, combined agg)",
      leg("unigram_logprob").body(ctx))
    audit("dup ngram coverage (expect hashes shuffle, never text)",
      Dedup.dupNgramCoverage(docs.select("doc_id", "text")))
    audit("pack plan (expect ONE exchange on shard key)",
      leg("pack_plan").body(ctx))
    audit("pack execute (expect ONE exchange: (shard,seq) agg reuses the " +
      "shard window partitioning; slices, never per-token rows)",
      BenchLegs.packExecute.body(docs))
    audit("mmr rerank (expect ONE grouped exchange; greedy inside the group)", {
      val emb = IO.embeddings(spark, dir)
      val topk = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 10), k = 10)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel"))
      Similarity.mmrRerank(topk.join(
        emb.select(col("vec_id").as("cand_id"), col("embedding")), "cand_id"),
        k = 5)
    })
    audit("temperature sample (expect broadcast plan join + group rank)",
      Sampling.temperatureSample(docs, "source",
        "doc_id", budget = 300, alpha = 0.5))
    // round-8 neural tier: fit on driver, inference must stay a single
    // grouped exchange + broadcast-weights narrow map
    audit("neural DEC assignment (expect 1 grouped exchange, broadcast spec)", {
      val fit = graft.kernels.DeepModels.decFit(
        DeepClustering.collectSeries(ev, cap = 64).map(_._2),
        graft.kernels.DeepModels.DeepCfg(k = 2, embeddingDim = 3, nFilters = 2,
          pretrainEpochs = 2, finetuneEpochs = 1), idec = false)
      DeepClustering.assign(ev, fit)
    })
    audit("vision embed (expect 1 grouped exchange, narrow conv map)",
      VisionEmbed.visionEmbeddings(ev))
    audit("nbeats forecast (expect grouped panel + scaffold join, no driver loop)", {
      val fit = graft.kernels.NBeats.fit(
        DeepClustering.collectSeries(ev, cap = 64).map(_._2),
        graft.kernels.NBeats.Cfg(h = 3, inputSize = 12, hiddenSize = 8,
          nBlocks = 1, stackTypes = Seq("generic"), maxEpochs = 2))
      DeepForecast.forecastWith(ev, fit)
    })
    audit("rl rollout (expect 1 grouped exchange, per-series episode map)",
      Adapters.rolloutNaive(ev))
    // round-9 curation additions
    audit("line dedup (expect hash-keyed freq shuffle; boilerplate set filtered BEFORE join-back)",
      BenchLegs.lineDedup.body(docs))
    audit("kn perplexity (expect bounded model aggs + broadcast score join; histogram terciles, no corpus sort)",
      BenchLegs.knPerplexity.body(docs))
    audit("prototype prune (expect narrow broadcast-centroid map + <=bins-row histogram)", {
      val emb = IO.embeddings(spark, dir).select("vec_id", "embedding")
      BenchLegs.prototypePrune(emb, Similarity.ivfCentroids(emb))
    })
    audit("dsir weights (expect <=buckets-row model shuffle, broadcast llr join)",
      BenchLegs.dsirWeights.body(docs))
    audit("span dedup (expect hash-keyed window shuffle + doc-keyed flag join; text never in the freq shuffle)",
      BenchLegs.spanDedup.body(docs))
    audit("normalize text (expect scan-only: 0 exchanges, regex project)",
      TextOps.normalizeText(docs)
        .select("doc_id", "norm_text"))
    // round-9 codec tier: real decode must stay a zero-exchange narrow map
    audit("media funnel (expect scan-only: 0 exchanges, decode UDF project)",
      Multimodal.mediaFunnel(
        docs.withColumn("payload", encode(col("text"), "UTF-8")),
        "payload").select("doc_id", "media_type", "keep"))
    // engine-wide invariant (r9): no WindowExec may run with an empty
    // partition spec — every single-partition window either got a real
    // partitioned rewrite (bucketed time index) or declares boundedness
    // via Panel.tinyFramePartition
    audit("media frames (expect narrow decode + explode; the 1 exchange is the audit fixture's own limit(50), not the operator)", {
      val mkVid = udf { (id: Long) =>
        Multimodal.y4mEncode(8, 6, "C420",
          Seq(Array.tabulate(72)(i => ((id * 7 + i) % 256).toByte)))
      }
      Multimodal.extractFrames(
        docs.limit(50)
          .withColumn("video", mkVid(col("doc_id"))),
        "video", stride = 1)
    })
    // round-9 temporal & layout tier
    audit("asof join (expect per-side hash exchanges + AsofJoin merge, ZERO join operators)",
      leg("asof_join").body(ctx))
    audit("range join (expect equi join on (key,bucket) — no BroadcastNestedLoopJoin)",
      leg("range_join").body(ctx))
    audit("sessionize summary (expect grouped window + reused partitioning for the agg)",
      leg("sessionize").body(ctx))
    audit("zorder rewrite (expect ONE range exchange + in-partition sort, codegen key)",
      leg("zorder_layout").body(ctx))
    // round-9 segmentation ops: the lag/segment fold lives INSIDE the
    // decode UDF (frames of one file come from one row) — these plans
    // must stay zero-exchange narrow maps, never a per-file window
    audit("scene changes (expect ZERO exchanges: fold inside the decode walk)", {
      val mkVid = udf { (id: Long) =>
        Multimodal.y4mEncode(8, 6, "C420", (0 until 4).map(f =>
          Array.tabulate(72)(i => ((id * 7 + f * 50 + i) % 256).toByte)))
      }
      Multimodal.sceneChanges(
        docs.filter(col("doc_id") < 50)
          .withColumn("video", mkVid(col("doc_id"))), "video", 30.0)
    })
    audit("audio segments (expect ZERO exchanges: fold inside the decode walk)", {
      val mkWav = udf { (id: Long) =>
        Multimodal.wavEncodePcm16(16000, 1,
          Array.tabulate(600)(i => if ((i / 256) % 2 == 0) 0 else 12000))
      }
      Multimodal.audioSegments(
        docs.filter(col("doc_id") < 50)
          .withColumn("audio", mkWav(col("doc_id"))), "audio", 0.05)
    })
    audit("pretokenize (expect scan-only: 0 exchanges, regex project)",
      TextOps.preTokenize(docs)
        .select(col("doc_id"), size(col("pre_tokens")).as("n")))
    audit("html strip (expect scan-only: 0 exchanges, regex project)",
      TextOps.htmlStrip(docs).select("doc_id", "text"))
    // round-9 foundation-adapter + sketch tier
    audit("chronos embed (expect scale window + ONE hash agg, no sort, no UDF)",
      graft.ops.Foundation.chronosEmbed(ev, dim = 4))
    audit("moment embed (expect window + two chained hash aggs, dim doubles of state)",
      graft.ops.Foundation.momentEmbed(ev, dim = 4, patchLen = 8))
    audit("cms sketch (expect ONE agg exchange bounded at depth*width rows)",
      BenchLegs.cmsSketch.body(docs))
    audit("hll distinct sketch (expect register agg exchanges bounded at groups*2^b rows)",
      BenchLegs.hllSketch.body(docs))

    // r11: the distributed long-series matrix profile — the block
    // explode must repartition on (id, block) so one series' diagonal
    // blocks land on different cores, then ONE merge agg + the time
    // join; no broadcast of the series, no per-window shuffle
    audit("matrix profile blocked (expect grouped pass + block repartition + merge agg)",
      Advanced.matrixProfileBlocked(
        ev.filter(col("user_id") < 20), m = 8, numBlocks = 4))
    // r11: the SQL TVF front door must produce the SAME plan shape as
    // the Scala API — AsofJoinExec with its two per-side exchanges,
    // never a fallback join
    audit("graft_asof TVF (expect AsofJoinExec, 2 per-side exchanges)", {
      graft.plans.GraftFunctions.register(spark)
      ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
        .createOrReplaceTempView("audit_asof_l")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        .createOrReplaceTempView("audit_asof_r")
      spark.sql("SELECT * FROM graft_asof('audit_asof_l', 'audit_asof_r'," +
        " 'user_id', 'ts', 'ts', 'click_id')")
    })

    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"\nPLAN AUDIT FAILED — zero whole-stage codegen " +
        s"spans in: ${failures.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
