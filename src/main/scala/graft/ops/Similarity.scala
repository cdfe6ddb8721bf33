package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`).
  *
  * Scale design: brute-force is the correctness baseline — broadcast the
  * (small) query set and stream the corpus once; top-k via per-query
  * window rank. The LSH variant (random-hyperplane signatures) buckets the
  * corpus so each query only scans its bucket — the 100 TB path: bucket
  * cardinality ~ corpus/2^bits, and the shuffle moves signatures, not
  * vectors.
  */
object Similarity {

  /** Operator-internal scan spread for the EXACT scoring paths (r12
    * verdict ask #3). The embeddings table is deliberately excluded from
    * `IO.table`'s scan normalization because the sampled quantizer fits
    * (`ivfCentroids`, `Embeddings.pqFit`) are partition-layout-dependent
    * through seeded per-partition Bernoulli sampling — re-laying-out
    * their input would move the pinned recall buckets. But the scoring
    * passes BELOW a fitted/broadcast model are per-row deterministic
    * (cosine, argmin cell, hyperplane signs) or exact aggregations
    * (max, count, ranks with full tie-breaks), so their VALUES are
    * layout-independent and their single-row-group scans can be spread
    * without touching any fit input. Same firing guard as IO.table (only
    * when the scan cannot feed the session's cores) but a
    * BYTES-PROPORTIONAL width (~256 KB of estimated input per task,
    * capped at the session parallelism), NOT IO.table's fixed 32: every
    * Spark task carries a fixed CPU cost (hash-aggregate page
    * allocation, per-task codegen instances — measured 40–120 ms/task,
    * OPTIMIZATION_r13.md change #6, the spread: an 8 k-row aggregate
    * cost 0.8 cpu-s at 1 partition, 1.35 at 8, 5.8 at 32), so a width
    * the data cannot amortize burns more CPU than the kernel it
    * parallelizes. IO.table keeps its fixed width because its consumers
    * include layout-SENSITIVE float folds; these exact ops do not, so the width
    * is free to follow the data. NEVER apply this to a frame that feeds
    * a sampled fit. */
  private def spread(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val parts = try {
      val est = org.apache.spark.sql.GraftPlanBridge.analyzed(df)
        .stats.sizeInBytes
      (est / (256L * 1024)).min(parallelism).toInt
    } catch { case scala.util.control.NonFatal(_) => 0 }
    // row-group-accurate scan width (graft.core.IO.effectiveScanUnits):
    // a single-row-group file bigger than maxPartitionBytes reports many
    // split-partitions while delivering every row to one task
    val units = graft.core.IO.effectiveScanUnits(df)
    if (parts >= 2 && units * 4 <= parallelism)
      df.repartition(parts, col(key))
    else df
  }

  /** Cosine similarity between two double array columns. Implemented as a
    * primitive-array Scala UDF: the equivalent higher-order-function
    * expression (`aggregate`/`zip_with`) allocates per element and sits
    * outside whole-stage codegen — the UDF is ~3× faster on the 64-dim
    * brute-force scan. Index-aligned sequential summation keeps results
    * deterministic and oracle-comparable. */
  // Array[Double] (not Seq[Double]) parameters: Spark converts the input
  // via one primitive toDoubleArray copy instead of boxing every element
  // into a Seq — on pair-quadratic paths (semDedup, brute-force top-k)
  // the boxing was ~70% of query wall time.
  // Now a native codegen BinaryExpression (graft.plans.CosineSim): reads
  // ArrayData in place — no per-row primitive-array copy, no UDF
  // boundary; the accumulation order (and thus every oracle) unchanged.
  def cosine(a: Column, b: Column): Column = graft.plans.CosineSim(a, b)

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors (excluding self). Queries are broadcast — the corpus
    * never shuffles; the only wide op is the per-query top-k rank over
    * |queries| × k rows. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    // spread the streamed corpus side: every corpus row pays |queries|
    // cosine kernels below — CPU-dense, value-exact (r13)
    val c = spread(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv")), "neighbor_id")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** MMR diversity re-rank (maximal marginal relevance, Carbonell &
    * Goldstein 1998) of a per-query candidate set — the step between
    * ANN retrieval and consumption that trades pure relevance for
    * coverage: greedily pick, `k` times,
    * `argmax λ·rel − (1−λ)·max_{s∈S} cos(cand, s)`
    * (first pick has no diversity term). The same greedy selects
    * DIVERSE training examples from a near-duplicate-heavy candidate
    * pool, so it earns its place in the curation tier, not just RAG.
    *
    * Determinism contract (shared with the SQL oracle): candidates
    * iterate sorted by id; the ascending scan keeps the FIRST maximum,
    * so exact score ties break toward the smaller id.
    *
    * Scale: one hash aggregation groups each query's ≤N candidates;
    * the O(N²·k) greedy runs inside the group — queries distribute,
    * no cross-query traffic, and N is the upstream top-k (small by
    * construction). */
  def mmrRerank(cands: DataFrame, k: Int, lambda: Double = 0.7,
      queryCol: String = "query_id", idCol: String = "cand_id",
      relCol: String = "rel", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "mmrRerank: k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "mmrRerank: lambda in [0, 1]")
    val spark = cands.sparkSession
    import spark.implicits._
    val u = udf((cs: Seq[(Long, Double, Seq[Double])]) => {
      // one struct list, not three parallel collect_lists (whose
      // relative element order Spark does not guarantee to align)
      val ids = cs.map(_._1); val rels = cs.map(_._2); val vecs = cs.map(_._3)
      val ord = ids.indices.sortBy(ids).toArray
      val id = ord.map(ids)
      val rel = ord.map(rels)
      val v = ord.map(i => vecs(i).toArray)
      val n = id.length
      val norm = v.map(a => math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x)))
      def cos(i: Int, j: Int): Double = {
        var s = 0.0; var t = 0
        val ai = v(i); val aj = v(j)
        while (t < ai.length && t < aj.length) { s += ai(t) * aj(t); t += 1 }
        val d = norm(i) * norm(j)
        if (d > 0) s / d else 0.0
      }
      val picked = new Array[Boolean](n)
      // -inf sentinel, NOT 0: max-similarity-to-selected is genuinely
      // negative when every selected vector points away from the
      // candidate, and MMR's penalty term must then REWARD it — a 0
      // floor silently clamps the penalty (caught by the DuckDB oracle)
      val maxSim = Array.fill(n)(Double.NegativeInfinity)
      val out = Seq.newBuilder[(Long, Int, Double)]
      var step = 1
      val m = math.min(k, n)
      while (step <= m) {
        var best = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val sc =
              if (step == 1) lambda * rel(i) // no selected set yet
              else lambda * rel(i) - (1 - lambda) * maxSim(i)
            if (sc > bestScore) { bestScore = sc; best = i }
          }
          i += 1
        }
        // all-NaN candidate scores leave best = -1 (NaN > x is false
        // for every x, including -Infinity): stop with the picks made
        // so far instead of indexing picked(-1)
        if (best < 0) { step = m + 1 }
        else {
        picked(best) = true
        out += ((id(best), step, bestScore))
        var j = 0
        while (j < n) {
          if (!picked(j)) { val c = cos(j, best); if (c > maxSim(j)) maxSim(j) = c }
          j += 1
        }
        step += 1
        }
      }
      out.result()
    })
    cands
      .groupBy(col(queryCol))
      .agg(collect_list(struct(col(idCol).cast("long"),
        col(relCol).cast("double"),
        col(vecCol).cast("array<double>"))).as("__c"))
      .select(col(queryCol), explode(u(col("__c"))).as("__m"))
      .select(col(queryCol), col("__m._1").as(idCol),
        col("__m._2").as("mmr_rank"), col("__m._3").as("mmr_score"))
  }

  /** HNSW top-k (graph ANN — [[graft.kernels.Hnsw]]): each corpus
    * partition builds its own deterministic small-world graph
    * (embarrassingly parallel, zero global state — the scale path: a
    * 1000-executor build is 1000 independent graphs), queries broadcast
    * into every partition's ef-search, and the per-partition local
    * top-k merge under one |queries|·k-row rank. Recall is the UNION of
    * per-partition searches, so partitioning can only help recall at
    * equal ef (each graph is smaller than a monolith). Determinism:
    * corpus is hash-repartitioned on the id and sorted within
    * partitions, and the kernel's level draws/tie-breaks are pure
    * functions — same inputs, same graphs, same rows on any cluster.
    * Queries collect to the driver (bounded query batch, same contract
    * as [[bruteForceTopK]]'s broadcast side). */
  def hnswTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 48, numPartitions: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val qB = spark.sparkContext.broadcast(qRows)
    val params = graft.kernels.Hnsw.Params(m, efConstruction)
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val local = corpus
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .repartition(parts, col("__id"))
      .sortWithinPartitions("__id")
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (ids, vecs) = it.toArray.unzip
        if (ids.isEmpty) Iterator.empty
        else {
          val ix = graft.kernels.Hnsw.build(ids, vecs, params)
          qB.value.iterator.flatMap { case (qid, qv) =>
            graft.kernels.Hnsw.search(ix, qv, k + 1, math.max(efSearch, k + 1))
              .iterator.filter(_._1 != qid).take(k)
              .map { case (nid, cos) => (qid, nid, cos) }
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    local
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Fully distributed HNSW top-k (r12, VERDICT #7): neither side
    * collects to the driver — the corpus×corpus path [[hnswTopK]]'s
    * bounded-broadcast contract cannot serve.
    *
    * Tiled cogroup: corpus rows hash to `corpusParts` graph shards and
    * replicate across `queryBatches` tiles; query rows hash to a batch
    * and replicate across all shards. Each (shard, batch) task builds
    * its shard's deterministic graph (same sorted ids per batch ⇒ the
    * SAME graph in every batch tile, so results merge consistently) and
    * ef-searches its query slice; one |queries|·k-per-shard window rank
    * merges shard-local top-k exactly like [[hnswTopK]].
    *
    * Cost model (n corpus, Q queries, P shards, B batches): shuffle
    * n·B + Q·P rows; per-task memory n/P graph + Q/B queries; graph
    * build CPU × B. B = 1 (default) never rebuilds but holds all
    * queries per task — raise B when Q is itself corpus-scale so the
    * per-task query slice stays bounded; the shuffled-bytes optimum is
    * B ≈ Q·P/n. Keep [[hnswTopK]] for bounded query batches (zero query
    * shuffle, zero rebuilds). */
  def hnswTopKAll(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 48, corpusParts: Int = 0,
      queryBatches: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queryBatches >= 1, "hnswTopKAll: queryBatches must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val params = graft.kernels.Hnsw.Params(m, efConstruction)
    val P = if (corpusParts > 0) corpusParts
      else spark.sessionState.conf.numShufflePartitions
    val B = queryBatches
    val c2 = corpus
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__pid", pmod(xxhash64(col("__id")), lit(P.toLong)))
      .withColumn("__qb",
        explode(sequence(lit(0L), lit(B - 1L))))
      .as[(Long, Array[Double], Long, Long)]
    val q2 = queries
      .select(col(idCol).cast("long").as("__qid"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qb", pmod(xxhash64(col("__qid")), lit(B.toLong)))
      .withColumn("__pid",
        explode(sequence(lit(0L), lit(P - 1L))))
      .as[(Long, Array[Double], Long, Long)]
    val local = c2.groupByKey(r => (r._3, r._4))
      .cogroup(q2.groupByKey(r => (r._4, r._3))) { case (_, cIt, qIt) =>
        val rows = cIt.map(r => (r._1, r._2)).toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val (ids, vecs) = rows.unzip
          val ix = graft.kernels.Hnsw.build(ids, vecs, params)
          qIt.flatMap { case (qid, qv, _, _) =>
            graft.kernels.Hnsw.search(ix, qv, k + 1,
                math.max(efSearch, k + 1))
              .iterator.filter(_._1 != qid).take(k)
              .map { case (nid, cos) => (qid, nid, cos) }
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    local
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Seeded Gaussian hyperplanes, row-major fill order. The single source
    * for [[hyperplaneBucket]] and [[lshTopK]] — and for AnnOracle, which
    * inlines these exact doubles as SQL literals so DuckDB replays the
    * same bucket assignment without replaying the RNG (the pinned-params
    * oracle pattern). */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits, dim)(rng.nextGaussian())
  }

  /** Random-hyperplane LSH bucket id: sign-bit signature of `bits`
    * Gaussian projections (seeded, deterministic). A vector whose length
    * differs from `dim` fails LOUDLY: zip_with would pad with nulls,
    * null the dot product, and silently send EVERY mismatched row to
    * bucket 0 — collapsing the LSH index into one O(n²) bucket (and, on
    * the query side, into near-zero recall). Null vectors yield a null
    * bucket (filter upstream). */
  def hyperplaneBucket(vec: Column, dim: Int, bits: Int = 12, seed: Long = 42L): Column = {
    val planes = hyperplanes(dim, bits, seed)
    val bitCols = planes.zipWithIndex.map { case (plane, b) =>
      val dot = aggregate(
        zip_with(vec, typedLit(plane.toSeq), (x, p) => x * p), lit(0.0), _ + _)
      when(dot >= 0.0, lit(1L << b)).otherwise(0L)
    }
    val bucket = bitCols.reduce((a, c) => a.bitwiseOR(c))
    when(vec.isNull, lit(null).cast("long")).otherwise(
      when(assert_true(size(vec) === dim,
        concat(lit(s"hyperplaneBucket: vector of dim "), size(vec),
          lit(s" does not match the configured dim=$dim"))).isNull,
        bucket))
  }

  /** IVF (inverted-file) ANN: a small sampled Lloyd k-means trains the
    * coarse quantizer on the driver; the corpus is assigned to its nearest
    * centroid cell ONCE (broadcast centroids, one scan), and each query
    * only scans its `nprobe` nearest cells. The 100 TB shape: cells
    * partition the corpus, the assignment is a narrow map, and the probe
    * join fans each query to nprobe cells instead of the full corpus. */
  /** The IVF coarse quantizer: seeded uniform sample → driver Lloyd
    * k-means. Extracted so AnnOracle/OraclePins can pin the exact centroid
    * doubles the query will use (same corpus, same seed → same sample →
    * same centers). A limit() alone would take the first parquet rows,
    * biasing centroids on sorted/sharded corpora; the 3× oversample +
    * hash-order + limit is deterministic and unbiased. */
  def ivfCentroids(corpus: DataFrame, nCells: Int = 16, sampleSize: Int = 1000,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Double]] = {
    val total = corpus.count()
    val frac = if (total == 0) 1.0 else math.min(1.0, 3.0 * sampleSize / total)
    val sample = corpus
      .select(col(idCol).as("__sid"), col(vecCol).cast("array<double>").as("__sv"))
      .sample(withReplacement = false, frac, seed)
      .orderBy(xxhash64(col("__sid").cast("string"), lit(seed)))
      .limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    graft.kernels.Cluster.lloydCenters(sample, nCells, seed)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int = 16,
      nprobe: Int = 4, sampleSize: Int = 1000, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val centers = ivfCentroids(corpus, nCells, sampleSize, seed, idCol, vecCol)
    val bc = spark.sparkContext.broadcast(centers)
    val nearestCell = udf((v: Array[Double]) => nearestCellIdx(v, bc.value))
    val probeCells = udf((v: Array[Double]) =>
      probeCellIds(v, bc.value, nprobe))
    // scoring copy only — the sampled ivfCentroids fit above reads the
    // caller's `corpus` frame untouched (r13)
    val c = spread(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv")), "neighbor_id")
      .withColumn("__cell", nearestCell(col("__cv")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__cell", explode(probeCells(col("__qv"))))
    c.join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Residual PQ codebooks for IVFADC (Jégou, Douze & Schmid 2011 §V:
    * the product quantizer trains on COARSE RESIDUALS v − cᵢ(v), which
    * concentrate around 0 and quantize far better than raw vectors).
    * One shared codebook across cells (the paper's memory-practical
    * choice). Reuses pqFit's deterministic hash-ordered sampling on the
    * residual projection, so OraclePins re-running this fit lands on
    * identical doubles. */
  def ivfPqFit(corpus: DataFrame, centers: Array[Array[Double]], m: Int = 8,
      ksub: Int = 16, sampleSize: Int = 1000, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    val residUdf = udf((v: Array[Double]) => {
      val cc = bc.value(nearestCellIdx(v, bc.value))
      Array.tabulate(v.length)(i => v(i) - cc(i))
    })
    graft.ops.Embeddings.pqFit(
      corpus.select(col(idCol), residUdf(col(vecCol).cast("array<double>")).as("__resid")),
      m, ksub, sampleSize, seed, idCol, "__resid")
  }

  /** Argmin-cell scan shared by EVERY nearest-centroid path (ivfTopK,
    * assignCells, topicAssign, prototypePrune, IVFADC): squared
    * euclidean, strict-< first-index tie-break — one definition so the
    * tie-break/metric contract the oracles replay cannot drift between
    * call sites. Returns (cell index, squared distance). */
  private def nearestCellWithDist(v: Array[Double],
      cs: Array[Array[Double]]): (Int, Double) = {
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var dd = 0.0; var j = 0
      val cv = cs(c)
      while (j < cv.length && j < v.length) { val t = v(j) - cv(j); dd += t * t; j += 1 }
      if (dd < bd) { bd = dd; best = c }
      c += 1
    }
    (best, bd)
  }

  private def nearestCellIdx(v: Array[Double], cs: Array[Array[Double]]): Int =
    nearestCellWithDist(v, cs)._1

  /** The `nprobe` nearest cells by squared euclidean (ivfTopK / IVFADC
    * query fan-out) — shared for the same no-drift reason. */
  private def probeCellIds(v: Array[Double], cs: Array[Array[Double]],
      nprobe: Int): Array[Int] =
    cs.indices.map { c =>
      var dd = 0.0; var j = 0
      val cv = cs(c)
      while (j < cv.length && j < v.length) { val t = v(j) - cv(j); dd += t * t; j += 1 }
      (dd, c)
    }.sortBy(_._1).take(nprobe).map(_._2).toArray

  /** IVFADC top-k with exact re-ranking (Jégou et al. 2011 §V + §V-D —
    * the production trillion-row ANN shape): corpus rows carry (cell,
    * m residual-PQ codes) — 8 bytes + a cell id per vector, never the
    * vector; queries probe the nprobe nearest cells, shortlist the
    * `rerank` best candidates by ADC between the per-cell query residual
    * and the codes, then re-rank the shortlist by exact cosine (fetching
    * only rerank vectors per query by id — a broadcast-side lookup, not
    * a scan). At 100 TB the cell id is the partition key: each probe
    * touches nprobe/nCells of the code index (64× smaller than the
    * exact-vector [[ivfTopK]] scan), and only nq·rerank full vectors are
    * ever read. [[bruteForceTopK]] remains the exact baseline. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centers: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      nprobe: Int = 4, rerank: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val bcC = spark.sparkContext.broadcast(centers)
    val bcB = spark.sparkContext.broadcast(codebooks)
    val cellAndCodes = udf((v: Array[Double]) => {
      val cs = bcC.value
      val cb = bcB.value
      val cell = nearestCellIdx(v, cs)
      val cc = cs(cell)
      val resid = Array.tabulate(v.length)(i => v(i) - cc(i))
      val dsub = cb(0)(0).length
      val codes = Array.tabulate(cb.length) { s =>
        var best = 0; var bd = Double.MaxValue
        var j = 0
        while (j < cb(s).length) {
          var dd = 0.0; var t = 0
          val c = cb(s)(j)
          while (t < dsub) {
            val x = resid(s * dsub + t) - c(t); dd += x * x; t += 1
          }
          if (dd < bd) { bd = dd; best = j }
          j += 1
        }
        best
      }
      (cell, codes)
    })
    val probeCells = udf((v: Array[Double]) =>
      probeCellIds(v, bcC.value, nprobe))
    val adc = udf((qv: Array[Double], cell: Int, codes: Array[Int]) => {
      val cc = bcC.value(cell)
      val cb = bcB.value
      val dsub = cb(0)(0).length
      var s = 0; var acc = 0.0
      while (s < cb.length) {
        val c = cb(s)(codes(s))
        var t = 0; var dd = 0.0
        while (t < dsub) {
          val x = (qv(s * dsub + t) - cc(s * dsub + t)) - c(t); dd += x * x; t += 1
        }
        acc += dd
        s += 1
      }
      acc
    })
    val c = spread(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv0")), "neighbor_id")
      .select(col("neighbor_id"), cellAndCodes(col("__cv0")).as("__cc"))
      .select(col("neighbor_id"), col("__cc._1").as("__cell"),
        col("__cc._2").as("__codes"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__cell", explode(probeCells(col("__qv"))))
    val shortlist = c.join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc(col("__qv"), col("__cell"), col("__codes")))
      .withColumn("__ar", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("neighbor_id"))))
      .filter(col("__ar") <= rerank)
      .select(col("query_id"), col("neighbor_id"), col("__qv"))
    val vecs = spread(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv")), "neighbor_id")
    broadcast(shortlist).join(vecs, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup over
    * an embedding column — cluster the corpus with the IVF coarse
    * quantizer, then mark a vector as a duplicate iff an EARLIER
    * (smaller-id) member of its cluster sits at/above the cosine
    * threshold. Greedy first-survivor semantics: deterministic and
    * consistent with [[graft.ops.Dedup.canonical]]'s min-id convention
    * (the paper keeps the member least similar to the centroid; the
    * survivor choice is orthogonal to the dedup set size).
    *
    * Scale design: the quantizer trains on a bounded driver sample
    * (`ivfCentroids`), the assignment is a narrow broadcast map, and the
    * only wide ops are one shuffle of (cell, id, vec) and the
    * within-cell self-join — never an all-pairs join. The pairwise term
    * is n·(n/k), so the SCALE CONTRACT is k ∝ n (constant expected cell
    * size → total work linear in the corpus). ANN indexes pick k ∝ √n
    * for query latency; dedup must not copy that rule — k ∝ √n leaves
    * within-cell pairs growing as n^1.5 (measured 13.7× at 10× data in
    * the r9 scale proof vs ~linear with k ∝ n). At 100 TB you raise
    * `nCells` with the corpus, never the join width. Pass `centers` to
    * pin the quantizer (the oracle replays those exact doubles); the
    * overload without it trains on `df` itself.
    */
  /** Shared coarse-quantizer assignment: (__id, __v, cell) with the
    * strict-< first-index tie-break the oracles replay. */
  private def assignCells(df: DataFrame, centers: Array[Array[Double]],
      idCol: String, vecCol: String): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(centers)
    val nearestCell = udf((v: Array[Double]) => nearestCellIdx(v, bc.value))
    df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("cell", nearestCell(col("__v")))
  }

  def semDedup(df: DataFrame, centers: Array[Array[Double]],
      threshold: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // spread below the (already-fitted, broadcast) quantizer: the
    // within-cell pair cosines are the n·(n/k) CPU term and the mark
    // aggregation is an exact max — value-identical at any layout (r13)
    val v = spread(assignCells(df, centers, idCol, vecCol), "__id")
    val marks = v.as("a").join(v.as("b"),
        col("a.cell") === col("b.cell") && col("a.__id") < col("b.__id"))
      .withColumn("__cos", cosine(col("a.__v"), col("b.__v")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("b.__id").as("__id"))
      .agg(max(col("__cos")).as("max_prior_cosine"))
    v.join(marks, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"),
        col("max_prior_cosine").isNotNull.as("is_dup"),
        col("max_prior_cosine"))
  }

  def semDedup(df: DataFrame, nCells: Int, threshold: Double): DataFrame =
    semDedup(df, ivfCentroids(df, nCells), threshold)

  /** Persisted semantic-dedup state: the corpus's (id, cell, vector)
    * assignment under the PINNED quantizer `centers` — store it next to
    * the embeddings and feed it to [[semDedupIncremental]] per ingest
    * batch. The quantizer must stay pinned across batches (re-training
    * re-shuffles cells and invalidates the state). */
  def semDedupState(df: DataFrame, centers: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCells(df, centers, idCol, vecCol)

  /** Incremental SemDeDup: mark each NEW vector a duplicate iff a
    * smaller-id same-cell vector (existing or earlier-in-batch) sits
    * at/above the cosine threshold — the greedy first-survivor semantics
    * of [[semDedup]], restricted to the new slice, without recomputing
    * existing×existing. Per-batch work is |new| × (touched-cell
    * occupancy); with ingest-time monotone ids, existing vectors are
    * never re-marked. Equivalence with the full run (restricted to new
    * ids) is hash-checked by the gate. */
  def semDedupIncremental(newDf: DataFrame, existingState: DataFrame,
      centers: Array[Array[Double]], threshold: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vNew = assignCells(newDf, centers, idCol, vecCol)
    val vOld = existingState.select(col("__id"), col("cell"), col("__v"))
    // spread the heavy (existing ∪ new) probe side — exact-max marks,
    // value-identical at any layout (r13)
    val all = spread(vNew.unionByName(vOld), "__id")
    val marks = all.as("a").join(vNew.as("b"),
        col("a.cell") === col("b.cell") && col("a.__id") < col("b.__id"))
      .withColumn("__cos", cosine(col("a.__v"), col("b.__v")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("b.__id").as("__id"))
      .agg(max(col("__cos")).as("max_prior_cosine"))
    vNew.join(marks, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"),
        col("max_prior_cosine").isNotNull.as("is_dup"),
        col("max_prior_cosine"))
  }

  /** Topic assignment: each vector's nearest coarse-quantizer centroid
    * (the IVF cells reread as topic buckets — the cluster-based data
    * selection / diversity-bucketing step of a curation pipeline). Output:
    * (idCol, topic, centroid_dist) with Euclidean distance to the winning
    * centroid. Pure narrow map over a broadcast centroid array — zero
    * shuffles, so it composes freely under any downstream grouping; at
    * 100 TB you raise the sampled-Lloyd `nCells`, never this op's cost.
    * Ref semantics: polars_ts embedding-curation surface (cluster ids as
    * selection strata). */
  def topicAssign(df: DataFrame, centers: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    // strict-< scan → first index attains the min (ties break low, the
    // same convention the oracle's ordered CASE replays)
    val assign = udf((v: Array[Double]) => {
      val (best, bd) = nearestCellWithDist(v, bc.value)
      (best, math.sqrt(bd))
    })
    df.withColumn("__t", assign(col(vecCol).cast("array<double>")))
      .withColumn("topic", col("__t._1"))
      .withColumn("centroid_dist", col("__t._2"))
      .drop("__t")
  }

  /** Cluster-balanced subsample: at most `quota` vectors per topic cell,
    * chosen in stable hash order — the diversity-preserving cap that stops
    * a head topic from dominating a training mix (SemDeDup's companion
    * selection step). One shuffle on the topic key via
    * [[Sampling.stratifiedQuota]]; membership is a pure function of
    * (seed, id, centers), so re-runs and engines agree bit-for-bit. */
  def topicBalancedSample(df: DataFrame, centers: Array[Array[Double]],
      quota: Int, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Sampling.stratifiedQuota(
      topicAssign(df, centers, idCol, vecCol), "topic", idCol, quota, seed)

  /** Prototype-difficulty data pruning (Sorscher, Geirhos et al. 2022,
    * "Beyond neural scaling laws", arXiv:2206.14486 §4 — the
    * self-supervised pruning metric): each vector is assigned to its
    * nearest k-means prototype (L2 argmin, first-index tie-break) and its
    * difficulty is 1 − cosine(v, prototype); easy examples (close to a
    * prototype) are redundant when data is abundant, so the hardest
    * `keepFrac` is kept. The keep threshold comes from a fixed-grid
    * histogram of round(difficulty, 4) bins — a ≤bins-row cumulative
    * window, never a corpus-wide sort/ntile (the binned-quantile pattern).
    * Output: (idCol, cell, proto_cos, difficulty, keep).
    *
    * Scale: assignment + scoring is one narrow broadcast-centroid map;
    * the histogram is a map-side-combined ≤bins-row shuffle; the
    * threshold broadcasts back. Nothing driver-side beyond the bounded
    * sampled-Lloyd fit the caller provides. */
  def prototypePrune(df: DataFrame, centers: Array[Array[Double]],
      keepFrac: Double = 0.7, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac in (0,1], got $keepFrac")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    // strict-< argmin scan (ties break low) + cosine to the winner, one pass
    val assign = udf((v: Array[Double]) => {
      val cs = bc.value
      val best = nearestCellIdx(v, cs)
      val cv = cs(best)
      val n = math.min(cv.length, v.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val x = v(j); val y = cv(j)
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      (best, cos)
    })
    // spread below the (already-fitted, broadcast) prototypes: the
    // assign+cosine map is per-row deterministic and the histogram is
    // integer counts — value-identical at any layout (r13)
    val scored = spread(df, idCol)
      .withColumn("__p", assign(col(vecCol).cast("array<double>")))
      .select(col(idCol), col("__p._1").as("cell"),
        col("__p._2").as("proto_cos"))
      .withColumn("difficulty", lit(1.0) - col("proto_cos"))
    val Win = Window
    val bins = scored.groupBy(round(col("difficulty"), 4).as("__bin"))
      .agg(count(lit(1)).as("__c"))
    // intentional single partition over the bounded ≤|bins|-row histogram
    val p1 = graft.core.Panel.tinyFramePartition(col("__bin"))
    val cum = bins.withColumn("__cum",
      sum("__c").over(Win.partitionBy(p1).orderBy("__bin")
          .rowsBetween(Win.unboundedPreceding, Win.currentRow)) /
        sum("__c").over(Win.partitionBy(p1)))
    // t = the (1−keepFrac) quantile bin: everything at/above it is kept,
    // so the kept share is ≥ keepFrac (bin-granular, deterministic)
    val thr = cum.agg(
      min(when(col("__cum") >= 1.0 - keepFrac, col("__bin"))).as("__t"))
    scored.crossJoin(broadcast(thr))
      .withColumn("keep", round(col("difficulty"), 4) >= col("__t"))
      .drop("__t")
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidate join
    * (id_a < id_b within a hyperplane bucket) verified by exact cosine ≥
    * threshold — the vector analogue of MinHash near-dup detection.
    *
    * `tables` independent hyperplane tables (seeds seed..seed+T−1) union
    * their candidates before the exact verify: a single 8-bit table
    * misses near-dup pairs whose vectors straddle one hyperplane, and
    * with T tables the miss probability drops from (1−p) to (1−p)^T —
    * the audited recall lever (emb_near_dup_recall). Cost is T signature
    * shuffles of ids, never vectors; candidates dedup before verify. */
  def cosineNearDup(df: DataFrame, threshold: Double = 0.95, bits: Int = 8,
      dim: Int = 64, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", tables: Int = 2): DataFrame = {
    val v = spread(df.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v")), "__id")
    val cands = (0 until tables).map { t =>
      val vt = v.select(col("__id"),
        hyperplaneBucket(col("__v"), dim, bits, seed + t).as("__bucket"))
      vt.as("a").join(vt.as("b"),
          col("a.__bucket") === col("b.__bucket") && col("a.__id") < col("b.__id"))
        .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    }.reduce(_ unionByName _).distinct()
    cands
      .join(v.select(col("__id").as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .join(v.select(col("__id").as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** LSH-bucketed ANN: queries only compare against corpus vectors landing
    * in the same hyperplane bucket. Multi-probe: each query additionally
    * probes the `probes` buckets reached by flipping the hyperplane with
    * the smallest |margin| — the standard recall lever that costs
    * probes× query fan-out instead of a bigger corpus scan. Each query
    * touches ~(1+probes)·corpus/2^bits vectors. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 8, seed: Long = 42L, probes: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val bucket = (v: Column) => hyperplaneBucket(v, dim, bits, seed)
    // same plane sequence as hyperplaneBucket (same source)
    val planes = hyperplanes(dim, bits, seed)
    val qBucketsUdf = udf((v: Array[Double]) => {
      val arr = v
      val dots = planes.map { p =>
        var d = 0.0; var i = 0
        val n = math.min(p.length, arr.length)
        while (i < n) { d += p(i) * arr(i); i += 1 }
        d
      }
      var b = 0L
      var i = 0
      while (i < dots.length) { if (dots(i) >= 0.0) b |= 1L << i; i += 1 }
      // multi-probe (Lv et al. 2007): candidate perturbation sets of up to
      // two hyperplane flips, scored by how close the query sits to the
      // flipped planes (Σ|dot|) — the standard recall lever that avoids
      // widening buckets for everyone
      val nb = dots.length
      val singles = (0 until nb).map(f => (math.abs(dots(f)), 1L << f))
      val pairs = for {
        f1 <- 0 until nb; f2 <- f1 + 1 until nb
      } yield (math.abs(dots(f1)) + math.abs(dots(f2)), (1L << f1) | (1L << f2))
      val probeMasks = (singles ++ pairs)
        .sortBy { case (s, m) => (s, m) }
        .take(probes).map(_._2)
      (b +: probeMasks.map(m => b ^ m)).distinct
    })
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__bucket", explode(qBucketsUdf(col("__qv"))))
    val c = spread(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv")), "neighbor_id")
      .withColumn("__bucket", bucket(col("__cv")))
    c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}
