package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Exactly-once across restarts (SURVEY.md §2.7 delivery row): a file-
  * source stream with a checkpoint is stopped mid-input and restarted;
  * the sink must contain every input row exactly once — checkpointed
  * offsets + idempotent per-epoch sink replace Trident's txid state
  * (CassandraState.java:62-68,120-127).
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("file stream restart from checkpoint is exactly-once") {
    val base = Files.createTempDirectory("graft_recovery")
    val in = base.resolve("in"); Files.createDirectories(in)
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v LONG")
        .parquet(in.toString)
        .withColumn("doubled", col("v") * 2)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // epoch 1: first file
    Seq.range(0L, 100L).map(i => (i, i % 7)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    runOnce()
    // epoch 2: second file arrives after the stream stopped
    Seq.range(100L, 250L).map(i => (i, i % 7)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    runOnce()
    // epoch 3: restart with NO new data — must add nothing (idempotent)
    runOnce()

    val got = spark.read.parquet(out).select("id").as[Long].collect().toSeq.sorted
    assert(got.size == 250, s"expected 250 rows exactly once, got ${got.size}")
    assert(got == Seq.range(0L, 250L), "every input id exactly once")
  }

  // ---- StoreSwap: kill the two-rename swap between every pair of steps.
  // The protocol (delete leftover .old / rename store->.old /
  // rename .tmp->store / delete .old) claims that a COMPLETE version is
  // readable at every intermediate state and that re-running commit from
  // any crash point finishes the swap. Each test manufactures one crash
  // state with raw FS ops and asserts both halves of the claim.

  import graft.model.StoreSwap

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)
  private def writeVersion(dir: String, tag: String, n: Int): Unit =
    Seq.tabulate(n)(i => (i.toLong, tag)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  private def readTags(dir: String): Set[String] =
    spark.read.parquet(dir).select("v").as[String].collect().toSet

  test("StoreSwap kill before any rename (store=v1, tmp=v2): v1 readable, commit lands v2") {
    val store = Files.createTempDirectory("graft_swap_a").toString + "/store"
    writeVersion(store, "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    val readable = StoreSwap.committedPath(spark, store)
    assert(readable.contains(store) && readTags(readable.get) == Set("v1"))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v2") && spark.read.parquet(store).count() == 12)
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))) &&
      !hfs.exists(hp(StoreSwap.oldPath(store))), "no sibling dirs after commit")
  }

  test("StoreSwap kill mid-swap (old=v1, tmp=v2, store ABSENT): v1 still readable, commit recovers v2") {
    val store = Files.createTempDirectory("graft_swap_b").toString + "/store"
    // the state the naive delete-then-rename makes unrecoverable: the
    // serving path itself is gone
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    val readable = StoreSwap.committedPath(spark, store)
    assert(readable.contains(StoreSwap.oldPath(store)),
      "mid-swap the .old preserved by step 2 must be the readable version")
    assert(readTags(readable.get) == Set("v1"))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v2"))
    assert(!hfs.exists(hp(StoreSwap.oldPath(store))))
  }

  test("StoreSwap kill after swap, before cleanup (store=v2, old=v1): v2 readable, commit cleans up") {
    val store = Files.createTempDirectory("graft_swap_c").toString + "/store"
    writeVersion(store, "v2", 12)
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    assert(StoreSwap.committedPath(spark, store).contains(store))
    StoreSwap.commit(spark, store) // recovery mode: no tmp
    assert(readTags(store) == Set("v2"))
    assert(!hfs.exists(hp(StoreSwap.oldPath(store))), "leftover .old cleaned")
  }

  // a faithful torn-write state: the committer deletes `_temporary`
  // strictly BEFORE dropping `_SUCCESS`, so a crash that loses data
  // always leaves the staging dir behind
  private def tear(dir: String): Unit = {
    hfs.delete(hp(dir + "/_SUCCESS"), false)
    hfs.mkdirs(hp(dir + "/_temporary"))
  }

  test("StoreSwap never promotes a TORN tmp (_temporary staging left): discarded, store intact") {
    // the write job itself is the longest crash window — a tmp whose
    // job crashed mid-write is half-written and promoting it would
    // trade the only complete version for garbage
    val store = Files.createTempDirectory("graft_swap_torn").toString + "/store"
    writeVersion(store, "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    tear(StoreSwap.tmpPath(store))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v1"), "the complete version must survive")
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))), "torn tmp discarded")
  }

  test("StoreSwap never promotes a tmp whose driver-side one-row write died mid-file") {
    val store = Files.createTempDirectory("graft_swap_onerow").toString + "/store"
    val schema = new org.apache.spark.sql.types.StructType().add("v", "string")
    graft.model.OneRowParquet.write(spark, store, schema, "v1")
    graft.model.OneRowParquet.write(spark, StoreSwap.tmpPath(store), schema, "v2")
    OneRowCrash.midFile(StoreSwap.tmpPath(store))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v1"), "the complete version must survive")
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))), "torn tmp discarded")
  }

  test("StoreSwap accepts a committed write from a committer that drops no _SUCCESS marker") {
    // a session setting mapreduce.fileoutputcommitter.marksuccessfuljobs
    // =false commits Spark writes without the marker, and `_SUCCESS` is
    // the only commit evidence StoreSwap accepts. FactStore.consolidate
    // asserts its own rewrite's commit after the write returns, so its
    // swap still promotes the compacted version under that session.
    import graft.model.FactStore
    val master = Files.createTempDirectory("graft_swap_nomark").toString + "/master"
    FactStore.ingest(FactStore.eventsAsFacts(spark, sf0001).limit(200), master)
    val before = FactStore.readAll(spark, master).count()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try FactStore.consolidate(spark, master, targetFiles = 1)
    finally hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    assert(!hfs.exists(hp(StoreSwap.tmpPath(master))), "the rewrite was promoted, not left as tmp")
    assert(FactStore.readAll(spark, master).count() == before,
      "the promoted rewrite holds every row")
    val kinds = hfs.listStatus(hp(master)).filter(_.getPath.getName.startsWith("kind="))
    assert(kinds.nonEmpty && kinds.forall(k =>
      hfs.listStatus(k.getPath).count(_.getPath.getName.startsWith("part-")) == 1),
      "the master now holds the one-file-per-kind rewrite")
    // while _temporary-only staging still reads as NOT built
    val torn = Files.createTempDirectory("graft_swap_nomark2").toString + "/torn"
    hfs.mkdirs(hp(torn + "/_temporary"))
    assert(StoreSwap.committedPath(spark, torn).isEmpty,
      "a dir with only job staging inside is a torn write")
  }

  test("empty-bootstrap streamed fold passes under a markers-disabled session without manual intervention") {
    // r17 verdict item 4: the stream folds' live empty case — batch 0 of
    // an AvailableNow fold can be zero rows, and the bootstrap branch
    // builds the store from it. The commit row is the store's only
    // commit evidence (written on the driver with its own _SUCCESS), and
    // reads use the payload's fixed schema, so they serve EMPTY results,
    // not UNABLE_TO_INFER_SCHEMA, until data arrives. The fold then
    // appends forward with no manual intervention. Exercised under BOTH
    // marker modes.
    import graft.operators.{LexIndex, ShingleStore}
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val batch = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma zeta"))
      .toDF("doc_id", "text")
    val hc = spark.sparkContext.hadoopConfiguration
    for (markers <- Seq(true, false)) {
      hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", markers)
      try {
        val lex = Files.createTempDirectory(s"graft_eb_lex_$markers").toString + "/idx"
        LexIndex.build(spark, emptyDocs, lex, batchId = 0L)
        assert(LexIndex.isBuilt(spark, lex),
          s"markers=$markers: empty-bootstrap index must read as built")
        // read BEFORE any data: empty result, not an AnalysisException
        assert(LexIndex.bm25TopK(spark, lex, Seq("alpha"), 5).count() == 0L)
        LexIndex.append(spark, batch, lex, batchId = 1L)
        assert(LexIndex.bm25TopK(spark, lex, Seq("alpha"), 5).count() == 2L,
          s"markers=$markers: the fold continues past the empty bootstrap")

        val st = Files.createTempDirectory(s"graft_eb_sh_$markers").toString + "/st"
        ShingleStore.build(spark, emptyDocs, st, n = 3, batchId = 0L)
        assert(ShingleStore.isBuilt(spark, st))
        assert(ShingleStore.hashes(spark, st).count() == 0L)
        assert(ShingleStore.read(spark, st).columns.toSeq == Seq("doc_id", "hs"))
        ShingleStore.append(spark, batch, st, batchId = 1L)
        assert(ShingleStore.hashes(spark, st).count() == 2L,
          s"markers=$markers: the fold continues past the empty bootstrap")
      } finally hc.setBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    }
  }

  test("StoreSwap rolls back a mid-swap crash whose tmp is ALSO torn (old=v1, tmp torn, store absent)") {
    val store = Files.createTempDirectory("graft_swap_rb").toString + "/store"
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    tear(StoreSwap.tmpPath(store))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v1"), "rollback must restore .old to the store path")
    assert(!hfs.exists(hp(StoreSwap.oldPath(store))) &&
      !hfs.exists(hp(StoreSwap.tmpPath(store))))
  }

  test("consolidate self-heals after a predecessor's mid-swap crash") {
    import graft.model.{FactKind, FactStore}
    val master = Files.createTempDirectory("graft_swap_cons").toString + "/master"
    FactStore.ingest(FactStore.eventsAsFacts(spark, sf0001).limit(200), master)
    val before = FactStore.readAll(spark, master).count()
    // simulate the crash state consolidate's own swap can leave: store
    // renamed away, new version not yet promoted
    writeVersion(StoreSwap.tmpPath(master), "junk", 1)
    tear(StoreSwap.tmpPath(master))
    assert(hfs.rename(hp(master), hp(StoreSwap.oldPath(master))))
    // re-running consolidate must recover and compact, not throw
    FactStore.consolidate(spark, master)
    assert(FactStore.readAll(spark, master).count() == before,
      "self-healed consolidate must preserve every row")
  }

  test("StoreSwap next batch over a crashed predecessor (store=v2, old=v1, tmp=v3) lands v3") {
    val store = Files.createTempDirectory("graft_swap_d").toString + "/store"
    writeVersion(store, "v2", 12)
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v3", 14)
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v3"))
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))) &&
      !hfs.exists(hp(StoreSwap.oldPath(store))))
  }
}
