package graft

import java.nio.file.Files

import graft.streaming.UpsertStore
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** The streamed upsert store: each fold appends one level into the batch
  * keys' buckets only, reads resolve latest-per-key and drop tombstones,
  * replayed folds are ledger no-ops, compaction preserves the read
  * result. The commit-point crash matrix is LevelStoreSpec's.
  */
class UpsertStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_upsertstore").toString + "/store"

  /** Every payload file of the store (the commit row excluded). */
  private def fileSet(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(UpsertStore.levels.dataDir(dir))).map(_.getPath)
      .filter(_.endsWith(".parquet")).toSet
  }

  private val keys = Seq("k")

  private def readMap(dir: String): Map[Long, String] =
    UpsertStore.read(spark, dir, keys).get
      .select("k", "v").as[(Long, String)].collect().toMap

  private def bucketOf(k: Long, n: Int = UpsertStore.DefaultBuckets): Int =
    spark.range(1).select(pmod(hash(lit(k)), lit(n))).head().getInt(0)

  test("fold appends only into the batch keys' buckets; existing files untouched") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir,
      (0L until 64L).map(i => (i, s"v0-$i")).toDF("k", "v"), keys, seq = 0)
    val before = fileSet(dir)
    UpsertStore.fold(spark, dir, Seq((3L, "v1-3")).toDF("k", "v"), keys, seq = 1)
    val after = fileSet(dir)
    assert(before.subsetOf(after), "a fold must never rewrite or remove existing files")
    val newFiles = after -- before
    assert(newFiles.nonEmpty && newFiles.forall(_.contains(s"bucket=${bucketOf(3L)}/")),
      s"new files must land only in the changed key's bucket, got $newFiles")
    assert(readMap(dir)(3L) == "v1-3" && readMap(dir)(4L) == "v0-4")
  }

  test("read resolves latest version per key and drops tombstones") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), keys, seq = 0)
    UpsertStore.fold(spark, dir,
      Seq((2L, "b2", false), (3L, null.asInstanceOf[String], true), (4L, "d", false))
        .toDF("k", "v", "del"),
      keys, seq = 1, deletedCol = Some("del"))
    assert(readMap(dir) == Map(1L -> "a", 2L -> "b2", 4L -> "d"),
      "update wins, delete tombstones, insert lands, untouched key persists")
  }

  test("replaying a fold with the same seq is idempotent (streaming batch retry)") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keys, seq = 0)
    val batch = Seq((2L, "b2")).toDF("k", "v")
    UpsertStore.fold(spark, dir, batch, keys, seq = 1)
    val files = fileSet(dir)
    UpsertStore.fold(spark, dir, batch, keys, seq = 1) // the retry
    assert(fileSet(dir) == files, "a replay of the last folded seq writes nothing")
    assert(readMap(dir) == Map(1L -> "a", 2L -> "b2"))
    val e = intercept[IllegalStateException](
      UpsertStore.fold(spark, dir, Seq((1L, "a0")).toDF("k", "v"), keys, seq = 0))
    assert(e.getMessage.contains("out-of-order"), e.getMessage)
    assert(readMap(dir) == Map(1L -> "a", 2L -> "b2"))
  }

  test("compact shrinks to live rows, preserves the read result, later folds still win") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir,
      (0L until 32L).map(i => (i, s"v0-$i")).toDF("k", "v"), keys, seq = 0)
    UpsertStore.fold(spark, dir,
      (0L until 32L by 2).map(i => (i, s"v1-$i")).toDF("k", "v"), keys, seq = 1)
    UpsertStore.fold(spark, dir,
      Seq((5L, null.asInstanceOf[String], true)).toDF("k", "v", "del"),
      keys, seq = 2, deletedCol = Some("del"))
    val beforeCompact = readMap(dir)
    assert(UpsertStore.maintain(spark, dir, keys, maxLevels = 1))
    assert(readMap(dir) == beforeCompact, "compaction must not change the read result")
    assert(UpsertStore.levels.read(spark, dir)._2.count() == beforeCompact.size,
      "after compaction the store holds exactly the live rows")
    // a post-compaction fold still supersedes compacted versions
    UpsertStore.fold(spark, dir, Seq((0L, "v3-0")).toDF("k", "v"), keys, seq = 3)
    assert(readMap(dir)(0L) == "v3-0")
  }

  test("empty batches fold to nothing: no empty-directory bootstrap, no file churn") {
    val dir = freshDir()
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    UpsertStore.fold(spark, dir, empty, keys, seq = 0)
    assert(UpsertStore.read(spark, dir, keys).isEmpty,
      "an empty first batch must not create an unreadable empty store")
    UpsertStore.fold(spark, dir, Seq((1L, "a")).toDF("k", "v"), keys, seq = 1)
    val before = fileSet(dir)
    UpsertStore.fold(spark, dir, empty, keys, seq = 2)
    assert(fileSet(dir) == before, "an empty batch must write nothing")
    assert(readMap(dir) == Map(1L -> "a"))
  }

  test("torn fold (prefix of batch files visible) leaves prior versions readable") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keys, seq = 0)
    // the crash state: PART of batch 1's level landed — key 1's new
    // version is on disk, key 2's never made it — and the commit did not
    UpsertStore.levels.writeLevel(Seq((1L, "a1", false)).toDF("k", "v", "_deleted")
      .withColumn("bucket", pmod(hash(col("k")), lit(UpsertStore.DefaultBuckets))), dir, 1)
    assert(readMap(dir) == Map(1L -> "a", 2L -> "b"),
      "an uncommitted level is invisible; nothing prior is ever lost mid-fold")
    // the retry prunes the torn level and lands the whole batch once
    UpsertStore.fold(spark, dir, Seq((1L, "a1"), (2L, "b1")).toDF("k", "v"), keys, seq = 1)
    assert(readMap(dir) == Map(1L -> "a1", 2L -> "b1"))
    assert(UpsertStore.levels.read(spark, dir)._2.count() == 4)
  }

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(s.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("lookup prunes the scan to the keys' buckets and equals the filtered full read") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir,
      (0L until 64L).map(i => (i, s"v0-$i")).toDF("k", "v"), keys, seq = 0)
    UpsertStore.fold(spark, dir, Seq((3L, "v1-3")).toDF("k", "v"), keys, seq = 1)
    val looked = UpsertStore.lookup(spark, dir, keys, Seq(Seq(3L), Seq(4L))).get
    looked.collect() // materialize so the executed plan is final
    // result ≡ full read filtered to the same keys
    val expect = UpsertStore.read(spark, dir, keys).get
      .where($"k".isin(3L, 4L)).as[(Long, String)].collect().toSet
    assert(looked.as[(Long, String)].collect().toSet == expect)
    assert(expect.contains((3L -> "v1-3")))
    // the scan reads ONLY the looked-up keys' bucket partitions: one
    // (bucket, seq) partition per live level holding the bucket
    val wanted = Set(bucketOf(3L), bucketOf(4L))
    val scans = allNodes(looked.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the lookup plan")
    val buckets = scans.flatMap(_.selectedPartitions.filePartitionIterator
      .map(_.values.getInt(0))).toSet
    assert(buckets == wanted,
      s"lookup read buckets $buckets of ${UpsertStore.DefaultBuckets}; wanted $wanted")
  }

  test("lookup casts literals to the store's key types (Int probe for a Long key)") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir,
      (0L until 16L).map(i => (i, s"v-$i")).toDF("k", "v"), keys, seq = 0)
    // hash(5: Int) != hash(5L): an uncast Int literal would probe the
    // wrong bucket and silently return nothing
    val got = UpsertStore.lookup(spark, dir, keys, Seq(Seq(5)))
      .get.as[(Long, String)].collect().toMap
    assert(got == Map(5L -> "v-5"))
  }

  test("lookup reads the bucket modulus from the store's commit row, not the caller") {
    // a store folded at 16 buckets must lookup correctly with NO
    // caller-supplied count; a mismatched fold is rejected outright
    val dir = freshDir()
    UpsertStore.fold(spark, dir,
      (0L until 64L).map(i => (i, s"v-$i")).toDF("k", "v"), keys, seq = 0,
      nBuckets = 16)
    val got = UpsertStore.lookup(spark, dir, keys, Seq(Seq(7L)))
      .get.as[(Long, String)].collect().toMap
    assert(got == Map(7L -> "v-7"),
      s"the recorded modulus must find the key, got $got")
    val e = intercept[IllegalArgumentException] {
      UpsertStore.fold(spark, dir, Seq((1L, "x")).toDF("k", "v"), keys,
        seq = 1, nBuckets = 8)
    }
    assert(e.getMessage.contains("nBuckets"))
    // compaction keeps the modulus
    UpsertStore.fold(spark, dir, Seq((1L, "x")).toDF("k", "v"), keys, seq = 1, nBuckets = 16)
    assert(UpsertStore.maintain(spark, dir, keys, maxLevels = 1))
    assert(UpsertStore.lookup(spark, dir, keys, Seq(Seq(7L), Seq(1L)))
      .get.as[(Long, String)].collect().toMap == Map(7L -> "v-7", 1L -> "x"))
  }

  test("a fold whose columns differ from the store's is refused") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir, Seq((1L, "a")).toDF("k", "v"), keys, seq = 0)
    for (bad <- Seq(Seq((2L, 1)).toDF("k", "v"), Seq((2L, "b", 1)).toDF("k", "v", "w"))) {
      val e = intercept[IllegalArgumentException](
        UpsertStore.fold(spark, dir, bad, keys, seq = 1))
      assert(e.getMessage.contains("must carry"), e.getMessage)
    }
    // the same columns in another order are fine
    UpsertStore.fold(spark, dir, Seq(("b", 2L)).toDF("v", "k"), keys, seq = 1)
    assert(readMap(dir) == Map(1L -> "a", 2L -> "b"))
  }

  test("files accumulate per fold until the trigger fires; maintain compacts to ~1 file/bucket") {
    val dir = freshDir()
    val maxLevels = 4
    var reads = Vector.empty[Map[Long, String]]
    var fired = 0
    (0 until 6).foreach { i =>
      UpsertStore.fold(spark, dir,
        (0L until 16L).map(k => (k, s"v$i-$k")).toDF("k", "v"), keys, seq = i.toLong)
      if (UpsertStore.maintain(spark, dir, keys, maxLevels)) fired += 1
      reads :+= readMap(dir)
    }
    assert(fired == 1, s"six folds at maxLevels=4 trip the trigger once, got $fired")
    // every read along the way saw the latest fold's values
    reads.zipWithIndex.foreach { case (m, i) =>
      assert(m == (0L until 16L).map(k => k -> s"v$i-$k").toMap,
        s"read after fold $i diverged (compaction ran: $fired)")
    }
    // after a final compaction every bucket holds ~1 file
    assert(UpsertStore.maintain(spark, dir, keys, maxLevels = 1))
    val seq = UpsertStore.levels.committed(spark, dir).get.getAs[Long]("max_seq")
    val perBucket = fileSet(dir).filter(_.contains(s"/seq=$seq/"))
      .groupBy(_.split("/").find(_.startsWith("bucket=")).get).values.map(_.size)
    assert(perBucket.nonEmpty && perBucket.max <= 2,
      s"compacted buckets hold $perBucket files")
    assert(!UpsertStore.maintain(spark, dir, keys, maxLevels = 1), "one live level: not due")
  }

  test("compact crash windows: store (or its .old) is always complete; fold/read recover") {
    val dir = freshDir()
    UpsertStore.fold(spark, dir, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), keys, seq = 0)
    UpsertStore.fold(spark, dir,
      Seq((2L, "b2", false), (3L, null.asInstanceOf[String], true)).toDF("k", "v", "del"),
      keys, seq = 1, deletedCol = Some("del"))
    val before = readMap(dir)
    val stats = new java.io.File(s"$dir/stats")
    def sibling(suffix: String) = new java.io.File(stats.getPath + suffix)
    val snap = new java.io.File(Scratch.dir("upsert_snap"), "stats")
    FileUtils.copyDirectory(stats, snap)

    // window 1: the compacted level landed, its commit did not
    assert(UpsertStore.maintain(spark, dir, keys, maxLevels = 1))
    FileUtils.deleteDirectory(stats)
    FileUtils.copyDirectory(snap, stats)
    assert(readMap(dir) == before, "an uncommitted compaction is invisible")
    assert(UpsertStore.maintain(spark, dir, keys, maxLevels = 1), "the retry compacts again")
    assert(readMap(dir) == before)

    // window 2: the compaction's commit swap died between its renames —
    // the new row at stats.tmp, the old one at stats.old, stats absent
    FileUtils.copyDirectory(stats, sibling(".tmp"))
    FileUtils.deleteDirectory(stats)
    FileUtils.copyDirectory(snap, sibling(".old"))
    assert(readMap(dir) == before, "readers resolve the preserved .old row")
    UpsertStore.fold(spark, dir, Seq((4L, "d")).toDF("k", "v"), keys, seq = 2)
    assert(!sibling(".tmp").exists() && !sibling(".old").exists(),
      "the fold finishes the swap before appending")
    assert(readMap(dir) == before + (4L -> "d"))

    // window 3: a swap that finished but left its .old behind
    FileUtils.copyDirectory(snap, sibling(".old"))
    assert(readMap(dir) == before + (4L -> "d"))
    assert(UpsertStore.maintain(spark, dir, keys, maxLevels = 1))
    assert(!sibling(".old").exists(), "the next writer entry cleans the leftover")
    assert(readMap(dir) == before + (4L -> "d"))
  }

  test("a store in the pre-level layout is refused on every entry, and nothing is deleted") {
    val dir = freshDir()
    // the old layout: bucket dirs and the bucket-count file at the root
    Seq((1L, "a", false, 0L)).toDF("k", "v", "_deleted", "_seq")
      .write.parquet(s"$dir/bucket=${bucketOf(1L)}")
    Files.write(java.nio.file.Paths.get(dir, "_graft_buckets"), "8".getBytes("UTF-8"))
    def files = FileUtils.listFiles(new java.io.File(dir), null, true).size
    val before = files
    for (op <- Seq[() => Any](
        () => UpsertStore.read(spark, dir, keys),
        () => UpsertStore.lookup(spark, dir, keys, Seq(Seq(1L))),
        () => UpsertStore.fold(spark, dir, Seq((2L, "b")).toDF("k", "v"), keys, seq = 1),
        () => UpsertStore.maintain(spark, dir, keys))) {
      val e = intercept[RuntimeException](op())
      assert(e.getMessage.contains("rebuild it into a fresh dir"), e.getMessage)
    }
    assert(files == before)
  }
}
