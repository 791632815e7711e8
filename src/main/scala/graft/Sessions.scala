package graft

import org.apache.spark.sql.SparkSession

/** ONE session recipe for every harness (Bench / Verify / Plans / Scaling
  * / Recall, and the lambdabench driver), so the plans that are verified against the
  * oracle, the plans committed to PLANS.md, and the plans the bench times
  * are the same physical plans. Round-18's verdict flagged the drift:
  * `canChangeCachedPlanOutputPartitioning` was set only in the measurement
  * sessions, so benched shuffles differed from verified ones.
  *
  * Conf rationale (all scale-neutral, none core-count-derived):
  *  - nanosAsLong: events.parquet stores TIMESTAMP(NANOS); read as Long.
  *  - committer v2: one rename per task at commit — the ingest queries pay
  *    two parquet commits each by design; v1's extra sequential rename
  *    pass is pure fixed cost on FS-backed stores (object-store
  *    deployments swap in their own committer).
  *  - canChangeCachedPlanOutputPartitioning=true: lets AQE apply byte-
  *    sized coalescing (advisoryPartitionSizeInBytes) under persisted
  *    plans too; default-off for cached-plan-reuse stability, not
  *    correctness. Measured at sf0.1: stream_lex_append 451 → 79 tasks.
  *    A 100 TB shuffle keeps its parallelism — only tiny shuffles
  *    collapse.
  *  - codegen.cache.maxEntries = [[CodegenCacheEntries]]: see there.
  */
object Sessions {

  /** Spark's generated-class cache size (`spark.sql.codegen.cache.maxEntries`,
    * default 100). The engine's working set is larger than the default,
    * so classes compiled seconds earlier were evicted and recompiled
    * (~13 ms of driver CPU each). Measured with the compile counter and
    * cache size on the lambdabench workloads at sf0.1, 4 cores:
    *  - one speed-layer cycle (a fold into the four stores plus one
    *    lookup, one bm25TopK and one searchIvfPq) uses 170 distinct
    *    classes (the fold 71, the reads 99), plus 9 new per-call literal
    *    classes per cycle that are never reused;
    *  - one batch cycle (ingest, views, dedup pass) uses 212.
    * 200 holds the speed working set with room for the literal churn:
    * recompiles per speed cycle fall from ~160 to 9-36 (the rest are
    * the literal classes and the cache's per-segment LRU). It does not
    * hold the batch cycle (116-178 recompiles a cycle, ~213 at 100):
    * that needs 256, which measured +5.2 % retained heap on the batch
    * workload against +3.2 % at 200 (about 24 KB of heap per cached
    * class, 76.7 MB at 100). A static, JVM-wide conf: it applies only
    * when set before the session's first compile.
    */
  val CodegenCacheEntries = 200

  def base(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** base() with master/partitions derived from $SPARK_GRAFT_CPUS (the
    * driver contract's core-count seam). */
  def fromEnv(defaultCpus: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    base(s"local[$cpus]", cpus)
  }
}
