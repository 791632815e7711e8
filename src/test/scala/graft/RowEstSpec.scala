package graft

import graft.model.RowEst
import org.apache.spark.sql.functions._

/** [[graft.model.RowEst]] — the metadata row bounds the size-routed
  * families (near-dedup exact↔LSH, span-scrub direct↔windowed) use
  * instead of a `count()` job (r17 verdict "stats-based routing").
  * Pins: exactness on the shapes the routed queries actually pass
  * (parquet scans, 1:1 selects, persisted relations — where a bound
  * that silently abstained would re-introduce the count job), the
  * upper-bound direction on filters, and abstention on growers.
  */
class RowEstSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001)

  test("exact on a parquet scan, its 1:1 select, and a filter's upper bound") {
    val n = docs.count()
    assert(RowEst.upperBound(docs).contains(n),
      "bare scan: footer sum must equal the true count")
    // the near-dedup hashed relation's shape: 1:1 select over the scan
    val hashed = docs.select(col("doc_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("hs"))
    assert(RowEst.upperBound(hashed).contains(n))
    // a filter passes its child's bound through: an over-count, which is
    // the safe routing direction (scale route is oracle-identical)
    val filtered = hashed.where(col("doc_id") % 4 === 0)
    assert(RowEst.upperBound(filtered).contains(n))
    assert(filtered.count() < n)
  }

  test("sees through a persisted relation to the plan that produced it — the routed pair stages' input shape") {
    val n = docs.count()
    val hashed = docs
      .select(col("doc_id"), graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // BEFORE materialization: the estimate must not need (or trigger)
      // the cache build — that job is exactly what routing avoids
      assert(RowEst.upperBound(hashed).contains(n),
        "persisted-but-unmaterialized relation must bound via the producing plan")
      hashed.count() // materialize
      assert(RowEst.upperBound(hashed).contains(n),
        "materialized cache must bound identically")
    } finally hashed.unpersist()
  }

  test("local relations, unions, limits are exact; growers and non-parquet leaves abstain") {
    val local = (0L until 37L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    assert(RowEst.upperBound(local).contains(37L))
    assert(RowEst.upperBound(local.unionAll(local)).contains(74L))
    assert(RowEst.upperBound(local.limit(5)).contains(5L))
    assert(RowEst.upperBound(spark.range(1000)).contains(1000L))
    // growers must abstain — a bound here could route a superlinear
    // plan past its onset
    assert(RowEst.upperBound(
      local.select(explode(split(col("text"), ""))).toDF("c")).isEmpty,
      "explode abstains")
    assert(RowEst.upperBound(local.as("a").crossJoin(local.as("b"))).isEmpty,
      "join abstains")
  }

  test("the routed span-scrub and near-dedup entries stay route-correct under the metadata probe") {
    // default knobs: fixture routes direct/exact; forced knobs flip the
    // route — both proven output-identical by the existing forced-route
    // specs; here we pin only that the metadata probe ROUTES, i.e. the
    // plan choice still responds to the knob with no count() involved.
    val small = (0L until 10L).map(i =>
      (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val direct = graft.operators.TextOps.spanScrubRouted(small, 8)
    assert(!direct.queryExecution.analyzed.toString.contains("Union"))
    spark.conf.set("graft.spanscrub.directMaxRows", "1")
    try {
      val windowed = graft.operators.TextOps.spanScrubRouted(small, 8)
      assert(windowed.queryExecution.analyzed.toString.contains("Union"))
    } finally spark.conf.unset("graft.spanscrub.directMaxRows")
  }

  test("exactCount answers only on cardinality-PRESERVING plans") {
    val docs = Tables.documents(spark, sf0001)
    val n = docs.count()
    assert(RowEst.exactCount(docs).contains(n), "bare scan: footer-exact")
    assert(RowEst.exactCount(docs.select("doc_id").orderBy("doc_id"))
      .contains(n), "project/sort preserve cardinality")
    assert(RowEst.exactCount(docs.unionAll(docs)).contains(2 * n),
      "union of exacts sums")
    assert(RowEst.exactCount(docs.where(col("doc_id") > 5)).isEmpty,
      "a filter makes the footer count an upper bound — must abstain")
    assert(RowEst.exactCount(docs.limit(3)).isEmpty,
      "limit abstains (exactness, not bounds, is the contract here)")
    assert(RowEst.exactCount(docs.sample(withReplacement = false, 0.5, 1L)).isEmpty,
      "sample abstains")
  }

  test("dirRowsExact: the level's exact count, 0 for an empty dir, None for a missing one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rowest_dir").toString
    val docs = Tables.documents(spark, sf0001).limit(37)
    docs.write.mode("overwrite").parquet(dir)
    assert(RowEst.dirRowsExact(spark, dir).contains(37L),
      "footer sum must equal the written row count exactly")
    assert(RowEst.dirRowsExact(spark, dir + "/nope").isEmpty,
      "a missing dir is no evidence of a count (a wrong path reads the same)")
    val empty = dir + "_empty"
    docs.limit(0).write.mode("overwrite").parquet(empty)
    assert(RowEst.dirRowsExact(spark, empty).contains(0L),
      "a committed zero-row write is a count of 0")
  }

  test("routing a bare-scan input launches NO job (the whole point)") {
    val sc = spark.sparkContext
    // a job group isolates jobs submitted by THIS thread from the
    // suite's async stragglers (broadcast/ContextCleaner jobs land on
    // the global counter at arbitrary times)
    // built OUTSIDE the group: the first read of a table runs Spark's
    // own listing job, which is a cost of reading, not of routing
    val hashed = docs.select(col("doc_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("hs"))
    sc.setJobGroup("rowest_probe", "RowEst must be metadata-only", false)
    try {
      assert(RowEst.upperBound(hashed).isDefined)
      Thread.sleep(300) // let the status listener bus drain
      val jobs = sc.statusTracker.getJobIdsForGroup("rowest_probe")
      assert(jobs.isEmpty,
        s"metadata bound must not run Spark jobs (ran ${jobs.length})")
    } finally sc.clearJobGroup()
  }
}
