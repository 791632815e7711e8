package graft

import graft.operators.NearDedup
import graft.operators.TextOps
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

class NearDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  // same token bag, different order (simhash-identical, minhash-near)
  private val reordered =
    "the lazy dog while the cat sleeps on the warm mat near the door the quick brown fox jumps over"
  private def docs = Seq(
    (0L, base),
    (1L, base), // exact duplicate
    (2L, base.replace("lazy", "sleepy")), // near duplicate (1 token changed)
    (3L, "completely different content about spark query engines and shuffles at scale today"),
    (4L, "another unrelated document mentioning parquet files and vectorized readers only"),
    (5L, reordered)
  ).toDF("doc_id", "text")

  test("minhash finds exact and planted near-duplicates, not unrelated pairs") {
    val pairs = NearDedup.minhashNearDups(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup must be found")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near dup must be found")
    assert(!pairs.exists { case (i, j) => j == 3L || i == 3L || j == 4L || i == 4L },
      "unrelated docs must not pair")
  }

  test("minhash verified jaccard is sound (matches exact shingle jaccard)") {
    val got = NearDedup.minhashNearDups(docs, threshold = 0.1)
      .where($"i" === 0 && $"j" === 2).select($"jaccard").as[Double].head()
    val sh = docs.select(col("doc_id"), explode(distinctShingles(col("text"), 3)).as("s"))
    val exact = TextOps.ngramJaccardPairs(sh, 0.0)
      .where($"i" === 0 && $"j" === 2)
      .select(round($"jac", 4)).as[Double].head()
    assert(got == exact)
  }

  test("simhash: identical token bags at distance 0 (order-insensitive), unrelated apart") {
    val pairs = NearDedup.simhashNearDups(docs, maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0), "exact dup at Hamming 0")
    assert(pairs.get((0L, 5L)).contains(0), "reordered doc has the same token bag")
    assert(!pairs.keySet.exists { case (i, j) => i == 3L || j == 3L || i == 4L || j == 4L })
  }

  test("hot-bucket cap drops giant buckets but keeps rare-band collisions") {
    val sh = docs.select(col("doc_id"), explode(distinctShingles(col("text"), 3)).as("s"))
    val sigs = NearDedup.minhashSignatures(sh)
    // exact duplicates (0,1) share every band; cap=2 keeps their buckets
    // (size 2-3) while a degenerate corpus-wide bucket would be dropped
    val capped = NearDedup.minhashCandidates(sigs, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((0L, 1L)), "rare-bucket collision must survive the cap")
    // cap=1 means no bucket may pair anything at all
    val starved = NearDedup.minhashCandidates(sigs, maxBucket = 1).count()
    assert(starved == 0, "cap=1 must produce zero candidates")
    // uncapped equals the default path
    val all = NearDedup.minhashCandidates(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(all))
  }

  test("exact-jaccard hot-shingle cap engages, reports, and bounds the join") {
    // 4 docs sharing ONE hot 3-shingle ("x y z") and nothing else: each
    // doc has 4 shingles, shared = 1, jaccard = 1/7 >= 0.1
    val hotDocs = (0L until 4L).map(i =>
      (i, s"x y z u$i v$i w$i")).toDF("doc_id", "text")
    val hashed = hotDocs.select(col("doc_id"), shingleHashes(col("text"), 3).as("hs"))
    // uncapped: all 6 pairs
    val uncapped = TextOps.ngramJaccardPairsFromHashes(hashed, 0.1, Int.MaxValue)
    assert(uncapped.count() == 6)
    // cap below the hot shingle's frequency: the only shared shingle is
    // dropped, so no pairs survive — and the drop is reported
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val capped = try {
      TextOps.ngramJaccardPairsFromHashes(hashed, 0.1, maxShingleFreq = 3).count()
    } finally System.setErr(realErr)
    assert(capped == 0, "pairs sharing only the hot shingle must be dropped")
    assert(errBuf.toString.contains("hot-bucket cap"),
      s"the cap must report its drops, got: ${errBuf.toString.take(200)}")
    // default cap (10k) leaves realistic corpora untouched
    val dflt = TextOps.ngramJaccardPairsFromHashes(hashed, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt == uncapped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("hot-cap engagement is a queryable observe metric, not just stderr") {
    // a 100 TB run alarms on Dataset.observe metrics delivered to its
    // QueryExecutionListener; stderr is local-debug only
    val sh = docs.select(col("doc_id"), explode(distinctShingles(col("text"), 3)).as("s"))
    val sigs = NearDedup.minhashSignatures(sh)
    val capped = NearDedup.minhashCandidates(sigs, maxBucket = 1)
    capped.collect()
    val metrics = capped.queryExecution.observedMetrics
      .filter { case (name, _) => name.startsWith("graft.minhash.hotcap.") }
    assert(metrics.nonEmpty, s"no hotcap observation fired; got ${capped.queryExecution.observedMetrics.keySet}")
    val m = metrics.values.head
    assert(m.getAs[Long]("dropped_rows") > 0L, s"dropped_rows metric empty: $m")
    assert(m.getAs[Long]("dropped_buckets") > 0L, s"dropped_buckets metric empty: $m")
  }

  test("hot-cap negative control: a clean corpus reports dropped_rows = 0 through the metric") {
    // the zero case matters as much as engagement: a dashboard alarming
    // on dropped_rows can only trust zero if an un-engaged cap still
    // EMITS the observation (rather than the metric going missing) — at
    // every site that caps through NearDedup.bucketPairs, each at its
    // declared query's threshold. Known gap: a result that comes out
    // EMPTY after a later shuffle loses the observation (AQE swaps the
    // finished plan for an empty relation, CollectMetrics included;
    // semantic-cell at threshold 0.9 shows it)
    import graft.operators.VectorOps
    val sh = docs.select(col("doc_id"), explode(distinctShingles(col("text"), 3)).as("s"))
    val emb = Tables.embeddings(spark, sf0001)
    val sites = Seq(
      "minhash" -> NearDedup.minhashCandidates(NearDedup.minhashSignatures(sh), maxBucket = 100000),
      "simhash" -> NearDedup.simhashNearDups(docs, maxBucket = 100000),
      "srp-lsh" -> VectorOps.cosineNearDupLsh(spark, emb, threshold = 0.4, maxBucket = 100000),
      "semantic-cell" -> VectorOps.cosineNearDupSemantic(spark, emb, threshold = 0.4, nCells = 8))
    sites.foreach { case (what, df) =>
      assert(df.collect().nonEmpty, s"$what: the declared threshold finds pairs here")
      val cm = df.queryExecution.observedMetrics
        .filter { case (name, _) => name.startsWith(s"graft.$what.hotcap.") }
      assert(cm.nonEmpty,
        s"$what: un-engaged cap must still observe; got ${df.queryExecution.observedMetrics.keySet}")
      assert(cm.values.forall(m =>
        m.getAs[Long]("dropped_rows") == 0L && m.getAs[Long]("dropped_buckets") == 0L),
        s"$what: clean run must report zero drops, got $cm")
    }
  }

  test("bucketPairs equals brute-force pairs sharing an uncapped multi-column bucket") {
    val cap = 4
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // random rows over 9 (k1, k2) buckets (ids may repeat), plus one
      // bucket of exactly `cap` rows (kept) and one of cap + 1 (dropped)
      val rows = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(3),
          rnd.nextInt(3).toString, rnd.nextInt(100))) ++
        (0 until cap).map(i => (100L + i, 7, "full", i)) ++
        (0 to cap).map(i => (200L + i, 8, "over", i))
      def brute(maxBucket: Int) =
        rows.groupBy(r => (r._2, r._3)).values.filter(_.size <= maxBucket).toSeq
          .flatMap(b => for (a <- b; c <- b if a._1 < c._1) yield (a._1, c._1, a._4, c._4))
          .sorted
      val df = rows.toDF("id", "k1", "k2", "p")
      Seq(cap, Int.MaxValue).foreach { maxBucket =>
        val pairs = NearDedup.bucketPairs(df, "id", Seq("k1", "k2"), maxBucket, "test")
        assert(pairs.columns.toSeq == Seq("i", "j", "p_i", "p_j"))
        val got = pairs.as[(Long, Long, Int, Int)].collect().toSeq.sorted
        assert(got == brute(maxBucket), s"seed=$seed maxBucket=$maxBucket")
      }
      assert(brute(cap).exists(_._1 == 100L) && !brute(cap).exists(_._1 == 200L))
    }
  }

  test("minhash signatures are permutation-stable (same doc -> same signature)") {
    val sh = docs.select(col("doc_id"), explode(distinctShingles(col("text"), 3)).as("s"))
    val sig1 = NearDedup.minhashSignatures(sh).orderBy("doc_id").collect()
    val sig2 = NearDedup.minhashSignatures(sh.repartition(7)).orderBy("doc_id").collect()
    assert(sig1.sameElements(sig2))
  }

  test("keep-best retains the highest-quality cluster member, not the smallest id") {
    // doc 1 = doc 0 plus a stopword-heavy tail: near-dup of 0 but with a
    // strictly higher stopword ratio — keep-best must pick 1 where the
    // keep-min apply step would pick 0. Singletons (3, 4) always survive.
    val planted = Seq(
      (0L, base),
      (1L, base + " and it is of the to in the a of is"),
      (3L, "completely different content about spark query engines and shuffles at scale today"),
      (4L, "another unrelated document mentioning parquet files and vectorized readers only")
    ).toDF("doc_id", "text")
    val kept = NearDedup.keepBestCanonical(planted).orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L), kept.mkString(", "))
    // sanity: the chosen member really does have the higher score
    val qs = planted
      .select(col("doc_id"),
        round(stopwordCount(col("text")) / size(tokens(col("text"))).cast("double"), 4).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(qs(1L) > qs(0L), qs.toString)
  }

  test("keep-best breaks quality ties toward the smallest doc_id") {
    val planted = Seq((0L, base), (1L, base)).toDF("doc_id", "text")
    val kept = NearDedup.keepBestCanonical(planted).collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(0L), kept.mkString(", "))
  }

  test("incremental keep-best equals the full recompute on merge / fresh / empty batches") {
    // two existing dup clusters {0,1} and {10,11}, an existing singleton
    // 12; batch doc 20 BRIDGES both clusters (its text covers both, so
    // its Jaccard to each side clears 0.1 — the merge case the
    // affected-cluster re-argmax must get right), batch doc 21 is a
    // fresh singleton (no pair anywhere)
    val other = "parquet vectorized readers scan column chunks with the of a predicate pushdown"
    val planted = Seq(
      (0L, base),
      (1L, base + " and it is of the to in the a of is"),
      (10L, other),
      (11L, other + " besides and it is of the to"),
      (12L, "an unrelated singleton document about broadcast joins under adaptive execution"),
      (20L, base + " " + other),
      (21L, "a fresh arrival on watermarks and state stores in streaming queries only")
    ).toDF("doc_id", "text")
    def kept(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = kept(NearDedup.keepBestCanonical(planted))
    // sanity on the fixture itself: the bridge really merges the clusters
    assert(full.map(_._1).count(id => Seq(0L, 1L, 10L, 11L, 20L).contains(id)) == 1,
      s"docs 0,1,10,11,20 must form ONE merged cluster; kept $full")
    for (batch <- Seq(col("doc_id") >= 20, col("doc_id") >= 10, lit(false)))
      assert(kept(NearDedup.keepBestCanonicalIncremental(planted, batch)) == full,
        s"incremental (batch = $batch) must equal the full recompute")
    // and on the real fixture corpus at the declared split + a heavier mix
    val fixture = Tables.documents(spark, sf0001)
    val fullFixture = kept(NearDedup.keepBestCanonical(fixture))
    for (batch <- Seq(col("doc_id") % 4 === 0, col("doc_id") % 2 === 0))
      assert(kept(NearDedup.keepBestCanonicalIncremental(fixture, batch)) == fullFixture,
        "incremental must equal the full recompute on the fixture corpus")
  }

  test("rule-parameterized keep-best: two non-quality rules pick their members; full ≡ incremental ≡ store-served per rule") {
    import graft.operators.{NearDedup, ShingleStore}
    import NearDedup.KeepRule
    // one near-dup cluster {0, 1}: doc 1 is LONGER (length rule keeps it)
    // but German (lang rule en>de keeps 0); 3 and 4 are singletons
    val planted = Seq(
      (0L, base, "en"),
      (1L, base + " extra tail tokens making this member longer", "de"),
      (3L, "completely different content about spark query engines and shuffles at scale today", "en"),
      (4L, "another unrelated document mentioning parquet files and vectorized readers only", "fr")
    ).toDF("doc_id", "text", "lang")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val langRule = KeepRule.langPriority(Seq("en", "de"))
    assert(ids(NearDedup.keepBestCanonical(planted, rule = KeepRule.longest))
      == Seq(1L, 3L, 4L), "length priority keeps the longer member")
    assert(ids(NearDedup.keepBestCanonical(planted, rule = langRule))
      == Seq(0L, 3L, 4L), "language priority keeps the preferred-language member")
    // maintenance invariance per rule: incremental ≡ full, and the
    // store-served form (rule score persisted as the q sidecar by the
    // same pass that shingles) ≡ both — still reading no text
    val isNew = col("doc_id") % 2 === 1
    for (rule <- Seq(KeepRule.longest, langRule)) {
      val full = rows(NearDedup.keepBestCanonical(planted, rule = rule))
      assert(rows(NearDedup.keepBestCanonicalIncremental(planted, isNew, rule = rule))
        == full, s"${rule.label}: incremental must equal the full recompute")
      val dir = Scratch.dir(s"shinglestore_rule_${rule.label.replaceAll("[^a-z]", "_")}")
      ShingleStore.build(spark, planted.where(!isNew), dir, n = 3, batchId = 0,
        sidecar = NearDedup.keepBestSidecar(rule))
      ShingleStore.append(spark, planted.where(isNew), dir, batchId = 1,
        sidecar = NearDedup.keepBestSidecar(rule))
      assert(rows(NearDedup.keepBestCanonicalStoreServed(spark, dir, isNew))
        == full, s"${rule.label}: store-served must equal the full recompute")
    }
  }

  test("forced LSH route lands the identical apply/keep-best results as the exact route") {
    // graft.neardedup.exactMaxRows = 0 forces every routed pair
    // generation (batch, prior-state, batch-touching incremental) onto
    // the minhash-banded candidate path; on the fixture corpus the
    // banded candidates have total recall over the >= 0.1-Jaccard pairs
    // (the pipeline_pretraining_corpus_scale precedent), so all four
    // declared queries must land byte-identical results — which is what
    // lets the routed forms keep their shared DuckDB oracle verbatim at
    // the scale factors where the knob flips.
    val names = Seq("near_dedup_apply", "near_dedup_apply_incremental",
      "near_dedup_keep_best", "near_dedup_keep_best_incremental")
    def run(name: String): Seq[Seq[Any]] =
      SparkEntry.queries(name)(spark, sf0001).collect().map(_.toSeq).toSeq
    val exact = names.map(n => n -> run(n)).toMap
    assert(exact("near_dedup_apply").nonEmpty)
    spark.conf.set("graft.neardedup.exactMaxRows", "0")
    try {
      for (n <- names)
        assert(run(n) == exact(n), s"$n: LSH-routed result must equal the exact route")
    } finally spark.conf.unset("graft.neardedup.exactMaxRows")
  }

  // the template-heavy corpus shape (licence headers, ToS boilerplate):
  // every doc opens with the same `boiler` tokens, then a unique tail.
  // nDup trailing docs are near-identical twins of doc 0..nDup-1 (one
  // tail token changed) — the only >= 0.5-Jaccard pairs by construction.
  private def boilerplateDocs(n: Int, nDup: Int) = {
    val boiler = (0 until 45).map(i => s"clause$i").mkString(" ")
    def tail(i: Int) = (0 until 32).map(k => s"tok${i}x$k").mkString(" ")
    val originals = (0 until n).map(i => (i.toLong, s"$boiler ${tail(i)}"))
    val twins = (0 until nDup).map { i =>
      ((n + i).toLong, s"$boiler ${tail(i).replace(s"tok${i}x31", "changed")}")
    }
    (originals ++ twins).toDF("doc_id", "text")
  }

  test("boilerplate-heavy corpus explodes the exact route's ESTIMATE and auto-routes onto LSH, pairs unchanged") {
    // r14 verdict #2: corpus ROW count alone misprices this shape — a
    // few thousand docs sharing template shingles blow the exact
    // self-join up far below the 20k row knob. The volume estimate
    // (Σ C(f,2) over under-cap shingle frequencies = the exact join's
    // actual output rows) is the measurement that catches it.
    val big = boilerplateDocs(2000, 3)
    val hashedBig = big.select(col("doc_id"), shingleHashes(col("text"), 3).as("hs"))
    val est = NearDedup.estimatedExactPairRows(hashedBig)
    // 43 shared shingles × C(2003, 2) ≈ 86M estimated exact-join rows
    // from only 2003 docs — two decades past the sf0.1 documents
    // table's 1.27M, and past the 5e7 routing default
    assert(est > NearDedup.exactMaxPairRows(spark),
      s"the planted fixture must explode the exact route: est=$est")
    assert(big.count() < NearDedup.exactPairMaxRows(spark),
      "…while the row-count axis alone would have kept it exact")
    // the routed form therefore takes LSH automatically and still finds
    // exactly the planted twins, nothing else
    val got = NearDedup.routedJaccardPairs(big, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 2000L), (1L, 2001L), (2L, 2002L)),
      s"planted twins and only them: $got")

    // ground-truth control at a size where the exact route is runnable:
    // same shape, both routes, identical pairs — the estimate-triggered
    // reroute changes the plan, never the answer (what keeps the shared
    // oracles valid)
    val small = boilerplateDocs(120, 3)
    val exactPairs = NearDedup.routedJaccardPairs(small, 0.5) // est ~307k < 5e7: exact
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("graft.neardedup.exactMaxPairRows", "1000")
    try {
      val routed = NearDedup.routedJaccardPairs(small, 0.5) // forced LSH by volume
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(routed == exactPairs,
        "volume-routed LSH pairs must equal the exact route's")
      assert(exactPairs == Set((0L, 120L), (1L, 121L), (2L, 122L)))
    } finally spark.conf.unset("graft.neardedup.exactMaxPairRows")
  }

  test("ShingleStore: store-read signatures equal the recompute relation; append replay is a no-op; torn stats read not-built") {
    import graft.operators.ShingleStore
    val corpus = Tables.documents(spark, sf0001)
    val existing = corpus.where($"doc_id" % 4 =!= 0)
    val batch = corpus.where($"doc_id" % 4 === 0)
    val dir = Scratch.dir("shinglestore_spec")

    ShingleStore.build(spark, existing, dir, n = 3, batchId = 0)
    assert(ShingleStore.isBuilt(spark, dir))
    ShingleStore.append(spark, batch, dir, batchId = 1)
    // store-read relation ≡ the recompute forms' shingle pass — this is
    // what lets near_dedup_apply_store share the incremental oracle
    val fromStore = ShingleStore.hashes(spark, dir)
      .select($"doc_id", $"hs").as[(Long, Seq[Long])].collect().toMap
    val recomputed = corpus
      .select($"doc_id", shingleHashes($"text", 3).as("hs"))
      .where($"hs".isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fromStore == recomputed,
      s"store must serve exactly the recomputed signatures (${fromStore.size} vs ${recomputed.size})")
    // replaying an already-committed batch is a no-op (exactly-once
    // across maintainer restarts)
    val before = ShingleStore.hashes(spark, dir).count()
    ShingleStore.append(spark, batch, dir, batchId = 1)
    assert(ShingleStore.hashes(spark, dir).count() == before,
      "replayed batch must not double-append")
    // an OUT-OF-ORDER batch (id below the committed high-water mark, not
    // an exact replay) is a sequencing violation and fails loud — the old
    // `last_batch >= batchId` skip would silently LOSE that batch's rows
    val ooo = intercept[IllegalStateException](
      ShingleStore.append(spark, batch, dir, batchId = 0))
    assert(ooo.getMessage.contains("out-of-order"), ooo.getMessage)
    assert(ShingleStore.hashes(spark, dir).count() == before,
      "the refused out-of-order append must not mutate the store")
    // rebuild over a committed store is refused loudly
    intercept[Exception](ShingleStore.build(spark, existing, dir))
    // a torn FIRST build (stats staged, never committed) reads not-built
    val torn = Scratch.dir("shinglestore_torn")
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/stats/_temporary"))
    assert(!ShingleStore.isBuilt(spark, torn),
      "a _temporary-only stats dir is a torn write, not a built store")
  }

  test("ShingleStore kill at the stats swap: the orphaned seq dir is invisible, the retried append converges") {
    import graft.operators.ShingleStore
    val corpus = Tables.documents(spark, sf0001).limit(300)
    val b0 = corpus.where($"doc_id" % 3 === 0)
    val b1 = corpus.where($"doc_id" % 3 === 1)
    val b2 = corpus.where($"doc_id" % 3 === 2)
    val dir = Scratch.dir("shinglestore_kill")
    ShingleStore.build(spark, b0, dir, n = 3, batchId = 0)
    ShingleStore.append(spark, b1, dir, batchId = 1)
    val committed = ShingleStore.hashes(spark, dir).count()
    // CRASH: batch 2's signatures fully landed under seq=2 but the
    // maintainer died before the stats swap — the commit point never ran
    b2.select($"doc_id", shingleHashes($"text", 3).as("hs"))
      .write.mode("overwrite").parquet(s"$dir/sigs/seq=2")
    assert(ShingleStore.hashes(spark, dir).count() == committed,
      "an unswapped seq dir must be invisible to every reader")
    // retry: the maintainer re-runs the append (same durable batch id);
    // recovery prunes the orphan first, so nothing double-counts
    ShingleStore.append(spark, b2, dir, batchId = 2)
    val after = ShingleStore.hashes(spark, dir)
      .select($"doc_id", $"hs").as[(Long, Seq[Long])].collect().toMap
    val fresh = corpus.select($"doc_id", shingleHashes($"text", 3).as("hs"))
      .where($"hs".isNotNull).as[(Long, Seq[Long])].collect().toMap
    assert(after == fresh,
      "post-recovery relation must equal a clean build over the same corpus")
    // streamed-fold equivalence: ANY batching folded sequentially equals
    // one build (what lets stream_shingle_append share the apply oracle)
    val one = Scratch.dir("shinglestore_onebuild")
    ShingleStore.build(spark, corpus, one, n = 3)
    val built = ShingleStore.hashes(spark, one)
      .select($"doc_id", $"hs").as[(Long, Seq[Long])].collect().toMap
    assert(after == built, "sequential folds must land exactly the one-shot build")
  }

  test("ShingleStore.maintain compacts accumulated seq levels: trigger, relation identity, retired-level pruning, idempotence") {
    import graft.operators.ShingleStore
    val corpus = Tables.documents(spark, sf0001).limit(240)
    val dir = Scratch.dir("shinglestore_maint")
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def levels: Set[Long] = hfs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/sigs")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("seq="))
      .map(_.stripPrefix("seq=").toLong).toSet
    // a streamed fold: build + 5 appends = 6 levels
    ShingleStore.build(spark, corpus.where($"doc_id" % 6 === 0), dir, n = 3, batchId = 0)
    (1 to 5).foreach(i =>
      ShingleStore.append(spark, corpus.where($"doc_id" % 6 === i), dir, batchId = i))
    val before = ShingleStore.hashes(spark, dir)
      .select($"doc_id", $"hs").as[(Long, Seq[Long])].collect().toMap
    assert(levels == (0L to 5L).toSet)
    // below the trigger: no-op
    assert(!ShingleStore.maintain(spark, dir, maxLevels = 8))
    assert(levels == (0L to 5L).toSet)
    // above the trigger: one fresh level, relation identical. Retired
    // levels SURVIVE the swap (r17 ADVICE: an eager delete races a
    // reader that resolved stats pre-swap and is still mid-scan over
    // them — read() is lazy, so no retry wrapper can help) but are
    // invisible: the [min_seq, max_seq] gate partition-prunes them.
    assert(ShingleStore.maintain(spark, dir, maxLevels = 2))
    assert(levels == (0L to 6L).toSet,
      s"retired levels stay on disk as the in-flight-reader grace window: $levels")
    val after = ShingleStore.hashes(spark, dir)
      .select($"doc_id", $"hs").as[(Long, Seq[Long])].collect().toMap
    assert(after == before, "compaction must not change the committed relation")
    // idempotent: a second call is a no-op (one live level) — and its
    // entry recovery is the DEFERRED prune of the retired levels
    assert(!ShingleStore.maintain(spark, dir, maxLevels = 2))
    assert(levels == Set(6L),
      s"the next maintainer entry prunes the retired levels: $levels")
    // the fold continues on the compacted store: appends and replay
    // guards work off the compacted stats
    ShingleStore.append(spark, corpus.where($"doc_id" % 6 === 0), dir, batchId = 6)
    assert(levels == Set(6L, 7L))
    assert(ShingleStore.hashes(spark, dir).count() > before.size,
      "post-compaction appends must land")
  }

  test("keep-best store-served ≡ recompute ≡ full batch; sidecar-shape mismatch on append is refused") {
    import graft.operators.{NearDedup, ShingleStore}
    val corpus = Tables.documents(spark, sf0001)
    val isNew = $"doc_id" % 4 === 0
    val dir = Scratch.dir("shinglestore_kb_spec")
    ShingleStore.build(spark, corpus.where(!isNew), dir, n = 3, batchId = 0,
      sidecar = NearDedup.keepBestSidecar())
    ShingleStore.append(spark, corpus.where(isNew), dir, batchId = 1,
      sidecar = NearDedup.keepBestSidecar())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("q")))
        .sortBy(_._1).toSeq
    val served = rows(NearDedup.keepBestCanonicalStoreServed(spark, dir, isNew))
    val recomputed = rows(NearDedup.keepBestCanonicalIncremental(corpus, isNew))
    val full = rows(NearDedup.keepBestCanonical(corpus))
    assert(served == recomputed,
      "store-served keep-best must equal the text-scanning incremental form")
    assert(served == full,
      "store-served keep-best must equal the full batch recompute")
    // the store sees no text: its whole relation is (doc_id, hs, q)
    assert(ShingleStore.read(spark, dir).columns.toSeq == Seq("doc_id", "hs", "q"))
    // null-signature docs are stored (with their sidecar) but excluded
    // from the pair relation
    val all = ShingleStore.read(spark, dir).count()
    val paired = ShingleStore.hashes(spark, dir).count()
    assert(all == corpus.count(), "every doc has a store row (sidecar coverage)")
    assert(paired <= all)
    // an append whose sidecar shape differs from the store's is refused —
    // a schema union would null-fill and a later argmax would read holes
    val bad = intercept[IllegalArgumentException](
      ShingleStore.append(spark, corpus.where(isNew), dir, batchId = 2,
        sidecar = Nil))
    assert(bad.getMessage.contains("sidecar"), bad.getMessage)
  }
}
