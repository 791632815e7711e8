package graft

import java.nio.file.Files

import graft.streaming.LabelStore
import org.apache.spark.sql.functions._

/** The speed-layer label store: a fold appends one level holding only
  * the relabeled and new nodes (every pre-fold file byte-identical on
  * disk), the labeling always equals the full recompute, and the
  * min-fold read resolves a node's labels across levels. The
  * commit-point crash matrix is LevelStoreSpec's.
  */
class LabelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_labelstore").toString + "/labels"

  /** (relative path → (length, checksum)) for every payload file. */
  private def fileStates(dir: String): Map[String, (Long, Long)] = {
    val base = new java.io.File(LabelStore.levels.dataDir(dir))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(base)
      .filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val crc = new java.util.zip.CRC32
        crc.update(bytes)
        f.getPath.stripPrefix(base.getPath) -> (f.length(), crc.getValue)
      }.toMap
  }

  private def bucketDir(path: String): String =
    path.split("/").find(_.startsWith("bucket=")).get

  private def bucketOf(node: Long, n: Int = LabelStore.DefaultBuckets): Int =
    spark.range(1).select(pmod(hash(lit(node)), lit(n))).head().getInt(0)

  private def labelsOf(dir: String): Map[Long, Long] =
    LabelStore.read(spark, dir).get
      .as[(Long, Long)].collect().toMap

  test("a fold touching one component rewrites only its buckets; others byte-identical") {
    val dir = freshDir()
    // bootstrap: many small components spread across all 8 buckets
    val edges0 = Seq.tabulate(64)(i => (i.toLong, (i + 1000).toLong))
      .toDF("src", "dst")
    LabelStore.fold(spark, dir, edges0)
    val before = fileStates(dir)
    assert(before.nonEmpty)
    val bucketsOnDisk = before.keySet.map(bucketDir)
    assert(bucketsOnDisk.size == LabelStore.DefaultBuckets,
      s"fixture must populate every bucket, got $bucketsOnDisk")

    // batch 2: a new node joins node 0's component, and {1, 1001} merges
    // into it — 5000 is new, 1 and 1001 relabel to 0; 0 and 1000 keep 0
    LabelStore.fold(spark, dir, Seq((5000L, 0L), (1000L, 1L)).toDF("src", "dst"))
    val after = fileStates(dir)
    before.foreach { case (p, st) =>
      assert(after.get(p).contains(st), s"pre-fold file $p was rewritten or removed")
    }
    val level = LabelStore.levels.read(spark, dir)._2.where($"seq" === 1)
      .select("node", "label").as[(Long, Long)].collect().toSet
    assert(level == Set(5000L -> 0L, 1L -> 0L, 1001L -> 0L),
      s"the new level holds exactly the relabeled and new nodes: $level")
    val wanted = Seq(5000L, 1L, 1001L).map(n => s"bucket=${bucketOf(n)}").toSet
    assert((after.keySet -- before.keySet).map(bucketDir) == wanted,
      "new files land only in the changed nodes' buckets")
    assert(labelsOf(dir) == labelsOf(dir).keySet.map(n =>
      n -> (if (Set(0L, 1L, 1000L, 1001L, 5000L)(n)) 0L else n % 1000)).toMap)
  }

  test("sequential folds equal the full recompute over all edges") {
    val dir = freshDir()
    val batch1 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val batch2 = Seq((2L, 3L), (20L, 21L)).toDF("src", "dst") // merges {1,2} with {3,4}
    val batch3 = Seq((4L, 20L)).toDF("src", "dst") // merges again
    LabelStore.fold(spark, dir, batch1)
    LabelStore.fold(spark, dir, batch2)
    LabelStore.fold(spark, dir, batch3)
    val got = labelsOf(dir)
    val full = graft.operators.GraphOps
      .connectedComponents(batch1.union(batch2).union(batch3))
      .as[(Long, Long)].collect().toMap
    assert(got == full, "folded labeling must equal the full recompute")
  }

  test("scoped fold: cross-component merge relabels BOTH touched components; bystander untouched") {
    // the affected-component scoping must pull the COMPLETE membership
    // of every touched component (not just the batch nodes), or a
    // merge would relabel only the members it happened to see
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
        .toDF("src", "dst"))
    val before = labelsOf(dir)
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // one edge between NON-canonical members merges the two components;
    // every member — including 3 and 12, never named in any batch edge
    // with the other component — must land on the min id 1
    LabelStore.fold(spark, dir, Seq((3L, 12L)).toDF("src", "dst"))
    val after = labelsOf(dir)
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).forall(after(_) == 1L),
      s"merge must relabel both components wholly: $after")
    assert(after(20L) == 20L && after(21L) == 20L, "bystander component untouched")
  }

  test("empty edge batches fold to nothing: no empty-directory bootstrap") {
    val dir = freshDir()
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    LabelStore.fold(spark, dir, empty)
    assert(LabelStore.read(spark, dir).isEmpty,
      "an empty first batch must not create an unreadable empty store")
    LabelStore.fold(spark, dir, Seq((1L, 2L)).toDF("src", "dst"))
    LabelStore.fold(spark, dir, empty)
    assert(labelsOf(dir) == Map(1L -> 1L, 2L -> 1L))
  }

  test("min-fold read repairs torn-commit duplicates (labels only decrease)") {
    val dir = freshDir()
    LabelStore.fold(spark, dir, Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    // an older, higher label for node 3 beside its newest one in the
    // committed level — the shape every relabel leaves across levels
    Seq((3L, 2L)).toDF("node", "label")
      .write.mode("append")
      .parquet(s"${LabelStore.levels.dataDir(dir)}/bucket=${bucketOf(3L)}/seq=0")
    val raw = LabelStore.levels.read(spark, dir)._2.where(col("node") === 3L).count()
    assert(raw == 2, "fixture: the duplicate must be on disk")
    val labels = labelsOf(dir)
    assert(labels(3L) == 1L,
      "read must repair the duplicate to the newest (minimum) label")
    // and folding onward from it converges to the truth
    LabelStore.fold(spark, dir, Seq((3L, 4L)).toDF("src", "dst"))
    val after = labelsOf(dir)
    assert(after == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("maintain compacts the levels to each node's newest label; the modulus is fixed") {
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq.tabulate(32)(i => (i.toLong, (i + 100).toLong)).toDF("src", "dst"),
      nBuckets = 16, batchId = 0L)
    LabelStore.fold(spark, dir, Seq((0L, 101L), (2L, 103L)).toDF("src", "dst"),
      nBuckets = 16, batchId = 1L)
    val before = labelsOf(dir)
    assert(before(101L) == 0L && before(1L) == 0L && before(103L) == 2L)
    assert(!LabelStore.maintain(spark, dir, maxLevels = 2))
    assert(LabelStore.maintain(spark, dir, maxLevels = 1))
    assert(labelsOf(dir) == before, "compaction must not change the labeling")
    assert(LabelStore.levels.read(spark, dir)._2.count() == before.size,
      "one row per node after the compaction")
    // folds and lookups keep the recorded 16-bucket modulus
    val e = intercept[IllegalArgumentException] {
      LabelStore.fold(spark, dir, Seq((1L, 501L)).toDF("src", "dst"), batchId = 2L)
    }
    assert(e.getMessage.contains("nBuckets"))
    LabelStore.fold(spark, dir, Seq((1L, 501L)).toDF("src", "dst"), nBuckets = 16, batchId = 2L)
    assert(LabelStore.lookup(spark, dir, Seq(501L, 103L)).get.as[(Long, Long)].collect().toSet ==
      Set(501L -> 0L, 103L -> 2L))
  }

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(s.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("lookup prunes the scan to the nodes' buckets and equals the filtered full read") {
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq.tabulate(64)(i => (i.toLong, (i + 1000).toLong)).toDF("src", "dst"))
    // modulus from the sidecar, not the caller
    val looked = LabelStore.lookup(spark, dir, Seq(3L, 1004L)).get
    looked.collect() // materialize so the executed plan is final
    val expect = LabelStore.read(spark, dir).get
      .where($"node".isin(3L, 1004L)).as[(Long, Long)].collect().toSet
    assert(looked.as[(Long, Long)].collect().toSet == expect)
    assert(expect == Set(3L -> 3L, 1004L -> 4L))
    // partitions read = |distinct buckets(nodes)|
    val wanted = spark.range(1).select(
      pmod(hash(lit(3L)), lit(LabelStore.DefaultBuckets)),
      pmod(hash(lit(1004L)), lit(LabelStore.DefaultBuckets))).head()
    val nWanted = Set(wanted.getInt(0), wanted.getInt(1)).size
    val scans = allNodes(looked.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the lookup plan")
    val scanned = scans.map(_.selectedPartitions.partitionCount).max
    assert(scanned == nWanted,
      s"lookup read $scanned of ${LabelStore.DefaultBuckets} buckets; wanted $nWanted")
    // an Int probe for the store's Long node column must still hash to
    // the right bucket (hash is type-sensitive)
    assert(LabelStore.lookup(spark, dir, Seq(3)).get
      .as[(Long, Long)].collect().toSet == Set(3L -> 3L))
    // a never-written store has no labels to serve
    assert(LabelStore.lookup(spark, freshDir(), Seq(1L)).isEmpty)
  }

  test("a store in the pre-level layout is refused on every entry, and nothing is deleted") {
    val dir = freshDir()
    // the old layout: bucket dirs and the bucket-count file at the root
    Seq((1L, 1L), (2L, 1L)).toDF("node", "label").write.parquet(s"$dir/bucket=0")
    Files.write(java.nio.file.Paths.get(dir, "_graft_buckets"), "8".getBytes("UTF-8"))
    def files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true).size
    val before = files
    for (op <- Seq[() => Any](
        () => LabelStore.read(spark, dir),
        () => LabelStore.lookup(spark, dir, Seq(1L)),
        () => LabelStore.fold(spark, dir, Seq((2L, 3L)).toDF("src", "dst")),
        () => LabelStore.maintain(spark, dir))) {
      val e = intercept[RuntimeException](op())
      assert(e.getMessage.contains("rebuild it into a fresh dir"), e.getMessage)
    }
    assert(files == before)
  }
}
