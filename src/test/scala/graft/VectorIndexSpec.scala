package graft

import graft.operators.{VectorIndex, VectorOps}
import org.apache.spark.sql.functions._

/** The persistent IVF-PQ index: prebuilt-vs-in-query equality, the
  * append-without-retrain contract, and the on-disk inverted-list scan
  * shape (partition pruning to the probed cells).
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_vecindex_spec").toString

  /** The committed codes: levels inside the meta's [min_seq, max_seq]. */
  private def committedCodes(dir: String): org.apache.spark.sql.DataFrame = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    spark.read.parquet(s"$dir/codes").where($"seq".between(
      meta.getAs[Long]("min_seq").toInt, meta.getAs[Long]("max_seq").toInt))
  }

  test("prebuilt search equals the in-query ann_ivfpq exactly (same shapes, sf0.001)") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    val prebuilt = VectorIndex.searchIvfPq(spark, dir,
      probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 8)
      .collect().map(_.toSeq).toSeq
    val inQuery = VectorOps.annIvfPq(spark, emb, probeFilter = $"vec_id" < 10,
      k = 5, nCells = 16, nProbe = 8, m = 8, ks = 16, rerank = 8)
      .collect().map(_.toSeq).toSeq
    assert(prebuilt == inQuery,
      "one code path, same training sample and seeds -> identical answers")
  }

  test("metamorphic: full probe and full rerank equal the exact top-k over the indexed vectors, duplicates included") {
    // ANN has no oracle, but with every cell probed and a rerank pool
    // holding every row, the search must equal brute force over what
    // was INDEXED: an id appended in two batches is two rows, each
    // reranked on its own vector (the second copy is nudged)
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
    val dup = 2L
    val nudged = emb.where($"vec_id" === dup).select($"vec_id",
      transform($"embedding", x => (x + 0.01f).cast("float")).as("embedding"))
    val batches = Seq(
      emb.where($"vec_id" % 3 === 0),
      emb.where($"vec_id" % 3 === 1 || $"vec_id" === dup),
      emb.where($"vec_id" % 3 === 2 && $"vec_id" =!= dup).unionByName(nudged))
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, batches(0), dir, nCells = 16, m = 8, ks = 16)
    batches.tail.foreach(b => VectorIndex.appendIvfPq(spark, b, dir))
    val indexed = batches.reduce(_ unionByName _)
      .select($"vec_id".as("c"), $"embedding".as("ce"))
    val k = 5
    val rerank = (indexed.count() / k + 1).toInt
    // dup's nearest neighbour probes too, so some answer holds both copies
    val nn = indexed.where($"c" =!= dup)
      .crossJoin(emb.where($"vec_id" === dup).select($"embedding".as("pe")))
      .orderBy(VectorOps.cosine($"pe", $"ce").desc, $"c").head().getLong(0)
    val probes = emb.where($"vec_id" < 10 || $"vec_id" === nn)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = rows(VectorIndex.searchIvfPq(spark, dir, probes, k, nProbe = 16, rerank = rerank))
    val want = rows(indexed
      .crossJoin(probes.select($"vec_id".as("p"), $"embedding".as("pe")))
      .where($"p" =!= $"c")
      .withColumn("cos", VectorOps.cosine($"pe", $"ce"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("p").orderBy($"cos".desc, $"c")))
      .where($"rank" <= k)
      .select($"p", $"rank", $"c", round($"cos", 4))
      .orderBy("p", "rank"))
    assert(want.exists { case (p, _, _, _) => want.count(w => w._1 == p && w._3 == dup) == 2 },
      "the fixture must put both copies of the twice-appended id in one answer")
    assert(got == want)
  }

  test("probe_cells equals the cross join with the centroids ranked by a row_number window, margins included") {
    // the reference form the row-local expression replaced: same cells,
    // same pdotc bits, for every probe of the fixture
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    val (coarse, _) = VectorIndex.readCodebooks(spark, dir)
    val probes = VectorOps.withUnit(emb.where($"embedding".isNotNull), "embedding", "pu")
      .select($"vec_id".as("p"), $"pu")
    val centroids = coarse.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cell", "centroid")
    for (nProbe <- Seq(4, 20); margin <- Seq(0.0, 0.02)) {
      val ranked = probes.crossJoin(centroids)
        .withColumn("pdotc", VectorOps.dot($"pu", $"centroid"))
        .withColumn("d", $"pdotc" - lit(0.5) * VectorOps.dot($"centroid", $"centroid"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("p").orderBy($"d".desc, $"cell")))
        .where($"rnk" <= nProbe)
        .withColumn("dbest", max("d").over(Window.partitionBy("p")))
        .where(lit(margin) <= 0 || $"rnk" === 1 || $"dbest" - $"d" <= margin)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("p", "cell", "pdotc").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      val native = probes.select($"p", explode(org.apache.spark.sql.graft.SrpNative
        .probeCells($"pu", coarse, nProbe, margin)).as("pc"))
        .select($"p", $"pc.cell".as("cell"), $"pc.pdotc".as("pdotc"))
      assert(rows(native) == rows(ranked), s"nProbe=$nProbe margin=$margin")
    }
  }

  test("ivfPqAssign's residuals equal a join with the centroid table and a zip_with subtraction") {
    // the reference form the row-local expression replaced: same cells,
    // same residual float bits, ragged and null-component rows included
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    val (coarse, _) = VectorIndex.readCodebooks(spark, dir)
    val odd = Seq((-1L, Seq[java.lang.Float](0.5f, null, 0.25f)),
      (-2L, Seq[java.lang.Float](0.5f, 0.5f)))
      .toDF("vec_id", "unit").withColumn("embedding", $"unit")
    val unitEmb = VectorOps.withUnit(emb, "embedding", "unit")
      .select("vec_id", "embedding", "unit").unionByName(odd)
    val centroids = coarse.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cell", "centroid")
    val reference = unitEmb.where($"unit".isNotNull)
      .select($"vec_id".as("c"), $"unit", org.apache.spark.sql.graft.SrpNative
        .nearestCentroid($"unit", coarse).as("cell"))
      .join(centroids, "cell")
      .select($"c", $"cell", zip_with($"unit", $"centroid",
        (u, cv) => (u - cv).cast("float")).as("residual"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("c", "cell", "residual").collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[java.lang.Float](2).map(x => Option(x).map(f => java.lang.Float.floatToRawIntBits(f)))))
        .toSet
    val native = rows(VectorOps.ivfPqAssign(unitEmb, coarse))
    val expected = rows(reference)
    assert(native.size == unitEmb.where($"unit".isNotNull).count())
    val differ = native.diff(expected)
    assert(differ.isEmpty && native.size == expected.size,
      s"${differ.size} rows differ, e.g. ${differ.headOption.map(r => (r._1, r._2))}")
  }

  test("searchIvfPq job and exchange ceilings: 4 jobs under default confs, 3 and 2 exchanges under the serving confs (sf0.001)") {
    // first execution of a fresh search each time: the probe side is a
    // narrow pass, the selection one heap shuffle, the output a local
    // sort — default confs add one job for the static cell list
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb.where($"vec_id" % 2 === 0), dir,
      nCells = 16, m = 8, ks = 16)
    VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 2 === 1), dir)
    def search() = VectorIndex.searchIvfPq(spark, dir, emb.where($"vec_id" === 7L), k = 10)
    val default = jobsOf(search().collect())
    assert(default <= 4, s"default-conf search ran $default jobs")
    val key = "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
    spark.conf.set(key, "false")
    try {
      val df = search()
      val serving = jobsOf(df.collect())
      assert(serving <= 3, s"serving-conf search ran $serving jobs")
      val exchanges = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(
        df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.size <= 2, s"serving-conf search planned exchanges:\n${exchanges.mkString("\n")}")
    } finally spark.conf.unset(key)
  }

  test("driver-side codebooks read equals the Spark read bit-for-bit") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    // readCodebooks serves the parquet-hadoop fast path; re-derive the
    // same structure through the Spark collect it replaced
    val (coarseFast, pqFast) = VectorIndex.readCodebooks(spark, dir)
    val rows = spark.read.parquet(dir + "/codebooks")
      .select("kind", "sub", "idx", "vec").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getSeq[Float](3).toArray))
    val coarseSlow = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4)
    val pqSlow = rows.filter(_._1 == "pq").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, cents) => cents.sortBy(_._3).map(_._4) }.toArray
    assert(coarseFast.map(_.toSeq).toSeq == coarseSlow.map(_.toSeq).toSeq,
      "coarse centroids must round-trip identically through the driver reader")
    assert(pqFast.map(_.map(_.toSeq).toSeq).toSeq == pqSlow.map(_.map(_.toSeq).toSeq).toSeq,
      "PQ codebooks must round-trip identically through the driver reader")
  }

  test("localCoarseTrain builds a servable index with the declared shape") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    // the sacrificial-v0 path: driver-local coarse train, same lifecycle
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 8, m = 8, ks = 16,
      localCoarseTrain = true)
    val (coarse, books) = VectorIndex.readCodebooks(spark, dir)
    assert(coarse.length == 8, "coarse quantizer keeps the declared drifted shape")
    assert(books.length == 8 && books.forall(_.length == 16),
      "PQ books keep the declared 8x16 shape")
    val hits = VectorIndex.searchIvfPq(spark, dir,
      probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 12)
    assert(hits.count() > 0, "the sacrificial index must serve searches")
    // every corpus row is indexed exactly once (the encode pass is the
    // same one the MLlib path uses; only the centroid source differs)
    assert(spark.read.parquet(dir + "/codes").count() == emb.count())
  }

  test("append encodes with the saved codebooks and leaves them untouched") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    val evens = emb.where($"vec_id" % 2 === 0)
    val odds = emb.where($"vec_id" % 2 === 1)
    VectorIndex.buildIvfPq(spark, emb = evens, dir = dir, nCells = 16, m = 8, ks = 16)
    val booksBefore = VectorIndex.readCodebooks(spark, dir)
    VectorIndex.appendIvfPq(spark, odds, dir)
    val booksAfter = VectorIndex.readCodebooks(spark, dir)
    assert(booksBefore._1.map(_.toSeq).toSeq == booksAfter._1.map(_.toSeq).toSeq &&
      booksBefore._2.map(_.map(_.toSeq).toSeq).toSeq == booksAfter._2.map(_.map(_.toSeq).toSeq).toSeq,
      "append must not retrain or rewrite codebooks")
    // every corpus row is indexed exactly once
    val codes = committedCodes(dir)
    assert(codes.count() == emb.count())
    assert(codes.select("c").distinct().count() == emb.count())
    // appended rows' codes are bit-identical to encoding them directly
    // with the read-back books — the float round trip is exact
    val (coarse, books) = booksAfter
    val expected = VectorOps.ivfPqEncode(
      VectorOps.ivfPqAssign(VectorOps.withUnit(odds, "embedding", "unit"), coarse),
      books)
      .select($"c", $"cell", hex($"codes").as("h")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val stored = codes.where($"c" % 2 === 1)
      .select($"c", $"cell", hex($"codes").as("h")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(stored == expected, "appended codes diverged from the saved-codebook encoding")
  }

  test("streaming foreachBatch appends land identically to a batch append (speed layer)") {
    // the reference's batch/speed split applied to the index view: the
    // batch layer builds (train + encode + write), the speed layer only
    // APPENDS through the saved codebooks — so a streamed micro-batch
    // must produce byte-identical index rows to the same data appended
    // in one batch call
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf0001)
    val evens = emb.where($"vec_id" % 2 === 0)
    val odds = emb.where($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val batchDir = freshDir()
    val streamDir = freshDir()
    VectorIndex.buildIvfPq(spark, evens, batchDir, nCells = 16, m = 8, ks = 16)
    VectorIndex.buildIvfPq(spark, evens, streamDir, nCells = 16, m = 8, ks = 16)
    VectorIndex.appendIvfPq(spark,
      emb.where($"vec_id" % 2 === 1), batchDir)
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        VectorIndex.appendIvfPq(spark, batch, streamDir, batchId = id)
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    // two micro-batches: the append path must not care how rows arrive
    val (half1, half2) = odds.splitAt(odds.length / 2)
    input.addData(half1.toSeq); q.processAllAvailable()
    input.addData(half2.toSeq); q.processAllAvailable()
    q.stop()
    def indexRows(dir: String) = committedCodes(dir)
      .select($"c", $"cell", hex($"codes").as("h")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(indexRows(streamDir) == indexRows(batchDir),
      "streamed appends diverged from the batch append")
    // and the served answers agree
    val probes = emb.where($"vec_id" < 10)
    val a = VectorIndex.searchIvfPq(spark, batchDir, probes, k = 5,
      nProbe = 8, rerank = 8).collect().map(_.toSeq).toSeq
    val b = VectorIndex.searchIvfPq(spark, streamDir, probes, k = 5,
      nProbe = 8, rerank = 8).collect().map(_.toSeq).toSeq
    assert(a == b)
    // maintain: micro-batch appends left >1 file in multi-write cells;
    // the compaction leaves one per cell, identical rows, same answers
    def filesPerCell(dir: String): Map[String, Int] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val root = new java.io.File(dir + "/codes")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> walk(d).count(_.getName.endsWith(".parquet")))
        .toMap
    }
    val before = filesPerCell(streamDir)
    assert(before.values.exists(_ > 1),
      s"expected multi-file cells after build+2 streamed appends, got $before")
    val rowsBefore = indexRows(streamDir)
    assert(VectorIndex.maintain(spark, streamDir, maxLevels = 1))
    // the next writer entry prunes the retired levels
    assert(!VectorIndex.maintain(spark, streamDir, maxLevels = 1))
    val after = filesPerCell(streamDir)
    assert(after.values.forall(_ == 1), s"cells not compacted to one file: $after")
    assert(indexRows(streamDir) == rowsBefore, "compaction changed the row multiset")
    val c = VectorIndex.searchIvfPq(spark, streamDir, probes, k = 5,
      nProbe = 8, rerank = 8).collect().map(_.toSeq).toSeq
    assert(c == b, "compaction changed search answers")
  }

  // ---- Append crash story (round 13, the LexIndex discipline): meta is
  // the ONE commit point. Manufacture crash states with raw FS ops and
  // assert (a) searches serve EXACTLY the old index, (b) a retry
  // converges — no lost corpus, no double-inserted ids.

  private def searchRows(dir: String, emb: org.apache.spark.sql.DataFrame) =
    VectorIndex.searchIvfPq(spark, dir,
      probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 8)
      .collect().map(_.toSeq).toSeq

  test("append crash BEFORE the meta swap: searches serve the old index; retry converges") {
    val emb = Tables.embeddings(spark, sf0001)
    val evens = emb.where($"vec_id" % 2 === 0)
    val odds = emb.where($"vec_id" % 2 === 1)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, evens, dir, nCells = 16, m = 8, ks = 16)
    val before = searchRows(dir, emb)
    val metaSnap = freshDir() + "/meta_snap"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/meta"), new java.io.File(metaSnap))
    VectorIndex.appendIvfPq(spark, odds, dir)
    val committed = searchRows(dir, emb)
    val nCommitted = committedCodes(dir).count()
    // manufacture the crash: batch codes fully landed under seq=1, meta
    // still the pre-append row (the swap never ran)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/meta"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(metaSnap), new java.io.File(s"$dir/meta"))
    assert(searchRows(dir, emb) == before,
      "uncommitted seq=1 codes must be invisible — searches serve exactly the old index")
    // retry: recover prunes the orphans, the re-append lands once
    VectorIndex.appendIvfPq(spark, odds, dir)
    assert(searchRows(dir, emb) == committed,
      "retried append must serve what the uninterrupted append served")
    val codes = committedCodes(dir)
    assert(codes.count() == nCommitted && codes.count() == emb.count(),
      "no double-inserted ids after the retry")
    assert(codes.select("c").distinct().count() == emb.count())
  }

  test("a replayed batchId is a no-op; maintain compacts when due and answers are unchanged") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb.where($"vec_id" % 4 === 0), dir,
      nCells = 16, m = 8, ks = 16, batchId = 0L)
    (1 to 3).foreach(i =>
      VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 4 === i), dir,
        batchId = i.toLong))
    val after = searchRows(dir, emb)
    val n = committedCodes(dir).count()
    // exactly-once: an engine re-delivery replays the LAST committed
    // batch — a no-op
    VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 4 === 3), dir, batchId = 3L)
    assert(committedCodes(dir).count() == n,
      "replaying the last committed batch must not re-insert its rows")
    assert(searchRows(dir, emb) == after)
    // an id BELOW the high-water mark is a sequencing violation — the old
    // silent skip would have LOST that batch's rows had they not applied
    val ooo = intercept[IllegalStateException](
      VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 4 === 1), dir, batchId = 1L))
    assert(ooo.getMessage.contains("out-of-order"), ooo.getMessage)
    assert(committedCodes(dir).count() == n,
      "the refused out-of-order append must not mutate the index")
    // maintenance: build + 3 appends = 4 live levels trip a 3-level
    // budget; the compaction leaves one
    assert(VectorIndex.maintain(spark, dir, maxLevels = 3))
    assert(!VectorIndex.maintain(spark, dir, maxLevels = 3), "no-op when not due")
    assert(committedCodes(dir).count() == n, "compaction must keep every row once")
    assert(searchRows(dir, emb) == after, "maintenance must not change answers")
  }

  test("maintain under the STREAMED fold: trigger fires between batches, idempotent, answers unchanged") {
    // the stream_lex_append pairing on the vector side (r13 VERDICT
    // task): a foreachBatch fold appends each micro-batch
    // transactionally and runs the level-count maintenance trigger
    // BETWEEN batches (never under one) — the production append-loop
    // shape, mirroring LexIndexSpec's maintain case. With maxLevels=1
    // the trigger must fire once an append lands a second level,
    // compact back to one level, stay a no-op when not due, and never
    // change served answers vs the batch build+append reference (same
    // corpus, same seeds -> same codebooks and codes).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf0001)
    val evens = emb.where($"vec_id" % 2 === 0)
    val odds = emb.where($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val refDir = freshDir()
    VectorIndex.buildIvfPq(spark, evens, refDir, nCells = 16, m = 8, ks = 16)
    VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 2 === 1), refDir)
    val want = searchRows(refDir, emb)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, evens, dir, nCells = 16, m = 8, ks = 16)
    var fired = 0
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDS().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        VectorIndex.appendIvfPq(spark, batch, dir, batchId = id)
        if (VectorIndex.maintain(spark, dir, maxLevels = 1)) fired += 1
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    val (half1, half2) = odds.splitAt(odds.length / 2)
    input.addData(half1.toSeq); q.processAllAvailable()
    input.addData(half2.toSeq); q.processAllAvailable()
    q.stop()
    assert(fired >= 1, "the level-count trigger must fire under the fold")
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[Long]("min_seq") == meta.getAs[Long]("max_seq"),
      s"fold-closing maintain left more than one live level: $meta")
    assert(!VectorIndex.maintain(spark, dir, maxLevels = 1),
      "maintain must be a no-op when not due (idempotent trigger)")
    assert(searchRows(dir, emb) == want,
      "maintenance under the streamed fold must not change served answers")
  }

  test("ANN candidate selection combines map-side (partial+final heap agg in the plan)") {
    // the scale claim behind the TopKAgg swap (all four ANN paths): the
    // per-probe top-k buffer must merge BEFORE the exchange, or every
    // scored row of a probe crosses the wire into one partition — pinned
    // here on ann_pq, whose ADC scan scores the whole corpus per probe
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val df = SparkEntry.queries("ann_pq")(spark, sf0001)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }).flatMap(nodes)
    val aggs = nodes(df.queryExecution.executedPlan).collect {
      case a: ObjectHashAggregateExec => a
    }
    assert(aggs.size >= 2, s"expected partial+final typed aggregation:\n" +
      df.queryExecution.executedPlan)
  }

  test("default-conf search prunes DETERMINISTICALLY via the static cell filter") {
    // under default session confs DPP only prunes via exchange reuse
    // (which its heuristic can decline) — the search must then push the
    // bounded probed-cell set as a static partition filter instead of
    // quietly scanning every inverted list
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    val df = VectorIndex.searchIvfPq(spark, dir,
      probes = emb.where($"vec_id" < 10), k = 5, nProbe = 4, rerank = 8)
    df.collect()
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(s.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("codes")) => f
    }
    assert(scans.nonEmpty, "no file scan over the codes table found")
    val scan = scans.head
    assert(scan.partitionFilters.exists(f =>
      f.toString.contains("cell") &&
        (f.toString.contains(" IN ") || f.toString.contains(" INSET "))),
      s"static cell IN filter must reach the scan:\n${scan.partitionFilters}")
    val scanned = scan.selectedPartitions.partitionCount
    assert(scanned > 0 && scanned < 16,
      s"scan read $scanned of 16 cell partitions — no static pruning")
  }

  test("margin-adaptive probing shrinks the partitions read on the persistent index") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    def partitionsRead(margin: Double): Int = {
      val df = VectorIndex.searchIvfPq(spark, dir,
        probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 8,
        probeMargin = margin)
      df.collect()
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: allNodes(s.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      allNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("codes")) =>
          f.selectedPartitions.partitionCount
      }.max
    }
    val fixed = partitionsRead(0.0)
    val tight = partitionsRead(0.02)
    assert(tight <= fixed,
      s"margin pruning must never widen the scan: fixed=$fixed tight=$tight")
    assert(tight < fixed,
      s"a tight margin must actually shrink the partitions read on this " +
        s"fixture (fixed=$fixed tight=$tight) — if this legitimately ties, " +
        "the fixture's cell scores are flatter than expected; lower the margin")
    assert(tight >= 1, "the rank-1 cell is always probed")
  }

  test("search scans only the probed cells' partitions (inverted lists on disk)") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    // The probed cells reach the scan via DYNAMIC partition pruning off
    // the broadcast candidate join (no driver collect in the search
    // path — pinned below). DPP's insertion is gated on a benefit
    // estimate that a KB-sized fixture index can never pass (the real
    // codes table at scale passes via stats), so the estimate is forced
    // for this test only: reuseBroadcastOnly=false lets DPP plan its
    // own broadcast subquery, and the fallback ratio makes the tiny
    // table look worth pruning. What the test pins is the PLAN SHAPE —
    // the join drives a dynamicpruning filter down to the partitioned
    // scan whenever DPP deems it beneficial.
    val dppConfs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000")
    val saved = dppConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    dppConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // Plan construction must run NO Spark jobs once the KB-sized
      // codebooks and the codes relation are in hand (the pre-round-10
      // form collected the probed cell ids before returning the
      // DataFrame). readCodebooks' bounded collect and the codes
      // directory listing are metadata reads outside this window.
      val (coarse, books) = VectorIndex.readCodebooks(spark, dir)
      val codes = spark.read.parquet(dir + "/codes")
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val df =
        try {
          val d = VectorOps.ivfPqSearch(spark, codes,
            probesRaw = emb.where($"vec_id" < 10), coarse, books,
            k = 5, nProbe = 4, rerank = 8)
          Thread.sleep(500) // listener bus is async; jobs run synchronously
          assert(jobs.get() == 0,
            s"ivfPqSearch ran ${jobs.get()} jobs at plan-construction time " +
              "— the search path must not collect")
          d
        } finally spark.sparkContext.removeSparkListener(listener)
      df.collect()
      // unwrap AQE stages: executedPlan.collect stops at stage boundaries
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: allNodes(s.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val scans = allNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("codes")) => f
      }
      assert(scans.nonEmpty, "no file scan over the codes table found")
      val scan = scans.head
      assert(scan.partitionFilters.exists(f =>
        f.toString.contains("dynamicpruning") && !f.toString.contains("true")),
        s"a live dynamicpruning filter on cell must reach the scan:\n" +
          scan.partitionFilters.mkString("; "))
      // 10 probes × nProbe=4 can touch at most 40 distinct cells, and on
      // this corpus far fewer — strictly less than the 16 built cells
      // actually READ (the runtime DPP metric, not the static partition
      // count) is the observable pruning claim
      val scanned = scan.metrics("numPartitions").value
      assert(scanned > 0 && scanned < 16,
        s"scan read $scanned of 16 cell partitions — no pruning")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("isBuilt resolves through a torn meta swap (never a hardcoded layout probe)") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    assert(!VectorIndex.isBuilt(spark, dir))
    VectorIndex.buildIvfPq(spark, emb.where($"vec_id" % 4 === 0), dir,
      nCells = 8, m = 8, ks = 16)
    assert(VectorIndex.isBuilt(spark, dir))
    // mid-swap crash state: meta renamed away, tmp never renamed in —
    // the complete old version lives at meta.old and MUST read as built
    assert(new java.io.File(s"$dir/meta")
      .renameTo(new java.io.File(s"$dir/meta.old")))
    assert(VectorIndex.isBuilt(spark, dir),
      "the torn-swap window must still read as built (meta.old is complete)")
  }

  test("rebuild over a BUILT index is refused and leaves it untouched; a torn first build retries") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = freshDir()
    VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16)
    val search = () => VectorIndex.searchIvfPq(spark, dir,
      probes = emb.where($"vec_id" < 5), k = 5, nProbe = 8, rerank = 8)
      .collect().map(_.toSeq).toSeq
    val before = search()
    val e = intercept[RuntimeException](
      VectorIndex.buildIvfPq(spark, emb, dir, nCells = 16, m = 8, ks = 16))
    assert(e.getMessage.contains("refusing to rebuild"), e.getMessage)
    assert(search() == before, "a refused rebuild must not touch the index")
    // torn FIRST build, the REAL crash state: the meta job created the
    // dir and its _temporary staging but crashed before job commit (no
    // _SUCCESS, no data). Must read as not-built and retry clean — a
    // bare exists() probe would brick this retry behind the refusal.
    val torn = freshDir()
    VectorIndex.buildIvfPq(spark, emb, torn, nCells = 16, m = 8, ks = 16)
    val tornMeta = new java.io.File(s"$torn/meta")
    org.apache.commons.io.FileUtils.cleanDirectory(tornMeta)
    assert(new java.io.File(tornMeta, "_temporary").mkdir())
    assert(!VectorIndex.isBuilt(spark, torn), "no COMMITTED meta = not built")
    VectorIndex.buildIvfPq(spark, emb, torn, nCells = 16, m = 8, ks = 16)
    val retried = VectorIndex.searchIvfPq(spark, torn,
      probes = emb.where($"vec_id" < 5), k = 5, nProbe = 8, rerank = 8)
      .collect().map(_.toSeq).toSeq
    assert(retried == before,
      "retried first build must equal a clean build (same corpus, same seeds)")
  }
}
