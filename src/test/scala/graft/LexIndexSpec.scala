package graft

import graft.operators.{LexIndex, TextOps}
import org.apache.spark.sql.functions._

/** The persistent posting-list index: results byte-identical to the
  * direct BM25 scan, query-time scan pruned to the query terms' bucket
  * partitions, stats sidecar self-describing.
  */
class LexIndexSpec extends SparkSpec {
  import spark.implicits._

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(s.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  private def freshDir(): String = Scratch.dir("lexindex_spec")

  private val qTerms = Seq("spark", "merge", "vector")

  test("indexed BM25 equals the direct scan, rank for rank") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs, dir)
    val direct = TextOps.bm25Rank(TextOps.bm25Scores(docs, qTerms), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val indexed = LexIndex.bm25TopK(spark, dir, qTerms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(direct.nonEmpty && indexed.sameElements(direct),
      s"direct=${direct.mkString(",")} indexed=${indexed.mkString(",")}")
  }

  test("bm25TopK and bm25TopKBatch run at most 4 jobs, answers in rank order (sf0.001)") {
    // df counted in one job off the pruned scan, one per-doc shuffle,
    // one top-k shuffle, the result — and no range sort after the heap
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    val single = LexIndex.bm25TopK(spark, dir, qTerms)
    assert(jobsOf(single.collect()) <= 4)
    assert(single.collect().map(_.getInt(0)).toSeq == (1 to 10))
    val batch = LexIndex.bm25TopKBatch(spark, dir, Seq(2 -> qTerms, 1 -> Seq("data")))
    assert(jobsOf(batch.collect()) <= 4)
    val keys = batch.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(keys == keys.sorted && keys.map(_._1).distinct == Seq(1, 2))
  }

  test("query scan reads only the query terms' bucket partitions") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs, dir)
    val scores = LexIndex.bm25Scores(spark, dir, qTerms)
    scores.collect() // finalize the executed plan
    // the store's RECORDED modulus (self-describing stats row), not the
    // library default — builds size their modulus from the corpus
    val nBuckets = spark.read.parquet(s"$dir/stats").head()
      .getAs[Int]("n_buckets")
    val wanted = spark.range(1)
      .select(qTerms.map(t =>
        pmod(xxhash64(lit(t)), lit(nBuckets.toLong))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct.size
    val scans = allNodes(scores.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the indexed-score plan")
    val scanned = scans.map(_.selectedPartitions.partitionCount).max
    assert(scanned == wanted,
      s"query read $scanned of $nBuckets buckets; wanted $wanted")
  }

  test("build + append equals one build over the union, stats totals merged") {
    val docs = Tables.documents(spark, sf0001)
    val whole = freshDir()
    LexIndex.build(spark, docs, whole)
    val grown = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), grown)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), grown)
    val a = LexIndex.bm25TopK(spark, whole, qTerms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val b = LexIndex.bm25TopK(spark, grown, qTerms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(a.nonEmpty && b.sameElements(a),
      s"whole=${a.mkString(",")} grown=${b.mkString(",")}")
    val (sw, sg) = (spark.read.parquet(s"$whole/stats").head(),
      spark.read.parquet(s"$grown/stats").head())
    assert(sg.getAs[Long]("n_docs") == sw.getAs[Long]("n_docs"))
    assert(math.abs(sg.getAs[Double]("sum_dl") - sw.getAs[Double]("sum_dl")) < 1e-6)
  }

  test("consolidate: answers unchanged, appended small files compacted") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    val before = LexIndex.bm25TopK(spark, dir, qTerms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/postings"))
        .count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles()
    assert(LexIndex.maintain(spark, dir, maxLevels = 1), "two live levels exceed one")
    // the retired levels survive the compaction (in-flight readers); the
    // next writer entry prunes them
    assert(!LexIndex.maintain(spark, dir, maxLevels = 1))
    val after = LexIndex.bm25TopK(spark, dir, qTerms, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(after.sameElements(before), "consolidation must not change answers")
    assert(parquetFiles() < filesBefore,
      s"expected fewer postings files after consolidate (before=$filesBefore, after=${parquetFiles()})")
  }

  // ---- Append crash story (round 13): stats is the ONE commit point.
  // Each test manufactures a crash state with raw FS ops (the
  // RecoverySpec technique) and asserts (a) reads serve EXACTLY the old
  // index, and (b) re-running the append CONVERGES to the union build —
  // no lost corpus, no double-counted postings.

  private def topk(dir: String): Seq[(Int, Long, Double)] =
    LexIndex.bm25TopK(spark, dir, qTerms, k = 10)
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))

  private def copyDir(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))

  private def postingsCount(dir: String): Long = {
    val stats = spark.read.parquet(s"$dir/stats").head()
    spark.read.parquet(s"$dir/postings")
      .where(col("seq").between(stats.getAs[Long]("min_seq").toInt,
        stats.getAs[Long]("max_seq").toInt)).count()
  }

  test("append crash BEFORE the stats swap: reads serve the old index; retry converges") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir)
    val before = topk(dir)
    val statsSnap = freshDir() + "/stats_snap"
    copyDir(s"$dir/stats", statsSnap)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    // manufacture the crash state: batch postings fully committed under
    // seq=1, stats still the pre-append row (the swap never ran)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/stats"))
    copyDir(statsSnap, s"$dir/stats")
    assert(topk(dir) == before,
      "uncommitted seq=1 postings must be invisible — reads serve exactly the old index")
    // retry: recover prunes the orphaned seq=1 dirs, the re-append lands once
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    val whole = freshDir()
    LexIndex.build(spark, docs, whole)
    assert(topk(dir) == topk(whole), "retried append must equal one build over the union")
    assert(postingsCount(dir) == postingsCount(whole),
      "no double-counted postings after the retry")
  }

  test("append crash MID stats write (staged stats tmp, no _SUCCESS): reads serve the old index; retry converges") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir)
    val before = topk(dir)
    val statsSnap = freshDir() + "/stats_snap"
    copyDir(s"$dir/stats", statsSnap)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    // the crash state: seq=1 postings landed, the new stats row was being
    // written to stats.tmp when the process died (staged file only)
    copyDir(s"$dir/stats", s"$dir/stats.tmp")
    OneRowCrash.midFile(s"$dir/stats.tmp")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/stats"))
    copyDir(statsSnap, s"$dir/stats")
    assert(topk(dir) == before, "a torn stats write must leave readers on the old index")
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    val whole = freshDir()
    LexIndex.build(spark, docs, whole)
    assert(topk(dir) == topk(whole), "retried append must equal one build over the union")
    assert(postingsCount(dir) == postingsCount(whole),
      "no double-counted postings after the retry")
  }

  test("append crash MID-postings (partial seq=1): reads serve the old index; retry converges") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir)
    val before = topk(dir)
    val statsSnap = freshDir() + "/stats_snap"
    copyDir(s"$dir/stats", statsSnap)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/stats"))
    copyDir(statsSnap, s"$dir/stats")
    // tear the postings write too: only SOME buckets' seq=1 dirs landed
    val seqDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .flatMap(b => Option(new java.io.File(b, "seq=1")).filter(_.exists()))
    assert(seqDirs.length > 1, "fixture must touch multiple buckets")
    seqDirs.zipWithIndex.filter(_._2 % 2 == 0).foreach { case (d, _) =>
      org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    assert(topk(dir) == before,
      "a partially-landed append must be invisible, not partially scored")
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir)
    val whole = freshDir()
    LexIndex.build(spark, docs, whole)
    assert(topk(dir) == topk(whole),
      "retry after a torn postings write must converge to the union build")
    assert(postingsCount(dir) == postingsCount(whole),
      "the surviving partial dirs must be pruned, not double-appended")
  }

  test("a replayed batchId is a no-op (exactly-once for a streaming fold)") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir, batchId = 0L)
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir, batchId = 1L)
    val after = topk(dir)
    val nDocs = spark.read.parquet(s"$dir/stats").head().getAs[Long]("n_docs")
    LexIndex.append(spark, docs.where($"doc_id" % 2 === 1), dir, batchId = 1L)
    assert(spark.read.parquet(s"$dir/stats").head().getAs[Long]("n_docs") == nDocs,
      "replaying a committed batch must not change the corpus constants")
    assert(topk(dir) == after, "replaying a committed batch must not change answers")
  }

  test("maintain: level-count trigger fires after appends, compaction idempotent, answers unchanged") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 4 === 0), dir)
    (1 to 2).foreach(i =>
      LexIndex.append(spark, docs.where($"doc_id" % 4 === i), dir))
    assert(!LexIndex.maintain(spark, dir, maxLevels = 3), "3 live levels fit a 3-level budget")
    LexIndex.append(spark, docs.where($"doc_id" % 4 === 3), dir)
    val before = topk(dir)
    assert(LexIndex.maintain(spark, dir, maxLevels = 3), "maintain must run when due")
    assert(!LexIndex.maintain(spark, dir, maxLevels = 3),
      "a compacted index is back to one level: maintain is a no-op")
    assert(topk(dir) == before, "maintenance must not change answers")
    val stats = spark.read.parquet(s"$dir/stats").head()
    assert(stats.getAs[Long]("min_seq") == 4L && stats.getAs[Long]("max_seq") == 4L)
  }

  test("batch serving: each query's block equals serving it alone, in ONE pruned scan") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs, dir)
    val queries = Seq(
      0 -> Seq("spark", "merge", "vector"),
      1 -> Seq("data", "query"),
      2 -> Seq("merge", "stream", "data"))
    val batchDf = LexIndex.bm25TopKBatch(spark, dir, queries, k = 10)
    val batch = batchDf.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSeq).toMap
    queries.foreach { case (qid, terms) =>
      val solo = LexIndex.bm25TopK(spark, dir, terms, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(solo.nonEmpty && batch(qid) == solo,
        s"query $qid: batch block ${batch(qid)} != solo $solo")
    }
    // the whole batch cost ONE scan over the union of the terms' buckets
    // (modulus from the store's stats — builds size it from the corpus)
    val nBuckets = spark.read.parquet(s"$dir/stats").head()
      .getAs[Int]("n_buckets")
    val wanted = spark.range(1)
      .select(queries.flatMap(_._2).distinct.map(t =>
        pmod(xxhash64(lit(t)), lit(nBuckets.toLong))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct.size
    val scans = allNodes(batchDf.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
    }
    assert(scans.map(_.selectedPartitions.partitionCount).max == wanted,
      s"batch read ${scans.map(_.selectedPartitions.partitionCount).max} buckets; union is $wanted")
  }

  test("an append touches ONLY the batch's terms' buckets (the stream-fold cost shape)") {
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "alpha omega"), (4L, "omega kappa"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    LexIndex.build(spark, base, dir)
    LexIndex.append(spark, batch, dir)
    val nBuckets = spark.read.parquet(s"$dir/stats").head()
      .getAs[Int]("n_buckets")
    val expected = spark.range(1)
      .select(Seq("alpha", "omega", "kappa").map(t =>
        pmod(xxhash64(lit(t)), lit(nBuckets.toLong))): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).toSet
    val touched = new java.io.File(s"$dir/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .filter(b => new java.io.File(b, "seq=1").exists())
      .map(_.getName.stripPrefix("bucket=").toLong).toSet
    assert(touched == expected,
      s"append wrote buckets $touched; the batch's terms hash to $expected")
  }

  test("reads are self-describing: a non-default modulus is recovered from stats") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma beta"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    LexIndex.build(spark, docs, dir, nBuckets = 7)
    val got = LexIndex.bm25Scores(spark, dir, Seq("beta"))
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(got.sameElements(Array(1L, 2L)),
      s"both docs must score for 'beta', got ${got.mkString(",")}")
  }

  test("rebuild over a BUILT index is refused and leaves it untouched; a torn first build retries") {
    val docs = Tables.documents(spark, sf0001)
    val dir = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), dir)
    val before = topk(dir)
    val e = intercept[RuntimeException](LexIndex.build(spark, docs, dir))
    assert(e.getMessage.contains("refusing to rebuild"), e.getMessage)
    assert(topk(dir) == before, "a refused rebuild must not touch the index")
    // torn FIRST build, the REAL crash state: the stats job created the
    // dir and its _temporary staging but crashed before job commit — no
    // _SUCCESS, no data files. A bare exists() probe would brick this
    // retry behind the rebuild refusal; the committed probe must read
    // not-built, append must fail LOUDLY (not die inferring schema), and
    // build() must clear the leftover and retry clean.
    val torn = freshDir()
    LexIndex.build(spark, docs.where($"doc_id" % 2 === 0), torn)
    val tornStats = new java.io.File(s"$torn/stats")
    org.apache.commons.io.FileUtils.cleanDirectory(tornStats)
    assert(new java.io.File(tornStats, "_temporary").mkdir())
    assert(!LexIndex.isBuilt(spark, torn), "no COMMITTED stats = not built")
    val e2 = intercept[RuntimeException](LexIndex.append(spark, docs, torn))
    assert(e2.getMessage.contains("index not built"), e2.getMessage)
    LexIndex.build(spark, docs, torn)
    val whole = freshDir()
    LexIndex.build(spark, docs, whole)
    assert(topk(torn) == topk(whole),
      "retried first build must equal a clean build of the same corpus")
  }

  test("isBuilt resolves through a torn stats swap (never a hardcoded layout probe)") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma beta"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    assert(!LexIndex.isBuilt(spark, dir))
    LexIndex.build(spark, docs, dir)
    assert(LexIndex.isBuilt(spark, dir))
    // mid-swap crash state: stats renamed away, tmp never renamed in —
    // the complete old version lives at stats.old and MUST read as built
    assert(new java.io.File(s"$dir/stats")
      .renameTo(new java.io.File(s"$dir/stats.old")))
    assert(LexIndex.isBuilt(spark, dir),
      "the torn-swap window must still read as built (stats.old is complete)")
  }
}
