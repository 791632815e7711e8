package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.noOracle
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` (SURVEY.md §2.9
  * `near_dedup_minhash` + SimHash): the LSH scale path for text dedup.
  *
  * MinHash: per doc, k=64 min-hashes of its 3-shingle set (hash family =
  * murmur3(shingle, seed i)); 16 bands × 4 rows; docs sharing any band
  * bucket are candidates; candidates are verified with exact shingle
  * Jaccard ≥ threshold. By MinHash theory P(candidate) = 1-(1-s^4)^16 —
  * s=0.7 → 0.99, s=0.3 → 0.12 — so verification work stays near-linear.
  *
  * SimHash: 64-bit signature = sign-aggregate of per-token hash bits
  * weighted by term frequency; near-dups are pairs within Hamming
  * distance ≤ 3, found by the pigeonhole band trick (4 × 16-bit chunks:
  * any pair at distance ≤ 3 shares at least one exact chunk).
  *
  * Both are banded-shuffle joins through [[bucketPairs]] — the banding
  * step of Leskovec, Rajaraman & Ullman, *Mining of Massive Datasets*
  * §3.4, shared with the exact-shingle, SRP-LSH and semantic-cell pair
  * generators: no all-pairs product, no driver state; exactly the shape
  * that survives 100 TB (bucket sizes bounded by the hot-bucket cap).
  *
  * Approximate candidate generation → no DuckDB oracle; NearDedupSpec
  * asserts planted-duplicate recall and verified-Jaccard soundness.
  */
object NearDedup {

  // b=16 bands of r=4 rows: P(candidate) = 1-(1-s^4)^16, the S-curve with
  // 50% crossover at s = (1/16)^(1/4) ≈ 0.5 — near-certain recall above
  // s=0.7, near-zero candidate rate below s=0.3.
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = NumHashes / Bands

  /** (doc_id, minhash array of NumHashes longs) from a (doc_id, s) shingle
    * relation. One shuffle: groupBy doc_id with k min-aggregates. Generic
    * over the shingle column type (strings or hashes); the text hot path
    * uses the zero-shuffle row-local form below instead.
    */
  def minhashSignatures(shingled: DataFrame): DataFrame = {
    val minCols = (0 until NumHashes).map(i =>
      min(hash(col("s"), lit(i)).cast("long")).as(s"mh$i"))
    shingled.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** All NumHashes minhashes of a doc's 64-bit shingle-hash array in one
    * compiled row-local pass — ZERO shuffles, vs the grouped form above
    * which shuffles the full exploded shingle relation (doc × shingles
    * rows; at 100 TB that shuffle dominates the whole dedup job). Hash
    * family is identical to the grouped form on a hashed-shingle relation
    * — murmur3(shingle_long, i), Spark's `hash(s, i)` — so signatures are
    * byte-for-byte the same and the band S-curve math is unchanged.
    * Backed by the native codegen expression (TextNative.minhashSignature)
    * so the array stays an UnsafeArrayData end to end, no UDF boxing.
    */
  def minhashSignatureArray(shingleHashArr: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.TextNative.minhashSignature(shingleHashArr, NumHashes)

  /** Monotone suffix for hot-cap observation names: a query may engage
    * several caps (a pipeline runs minhash AND span dedup), or the SAME
    * cap twice with different inputs (the incremental-vs-full compare
    * queries), and Spark rejects duplicate observation names over
    * different plans. Listeners match on the stable
    * `graft.<what>.hotcap.` prefix.
    */
  private val capObsId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Hot buckets found by map-side-combined groupBy count, then removed
    * by marking and filtering against the broadcast hot set — never
    * materializing a degenerate bucket in one task (a window count would
    * buffer the whole bucket in one partition, exactly the skew the cap
    * exists to avoid). The hot set is tiny (buckets over the cap) and
    * the filter needs it materialized anyway, so it is computed eagerly
    * — which also lets the cap report when it engages: dropping buckets
    * is lossy (see entry-point docs), and a silent drop would read as a
    * clean result.
    *
    * Engagement is OBSERVABLE two ways: the eager `[graft]` stderr line
    * (local debugging), and — because at 100 TB nobody reads executor
    * stderr — `Dataset.observe` metrics named
    * `graft.<what>.hotcap.<n>` with `dropped_rows` / `dropped_buckets`
    * counters that ride the consumer query, queryable from a
    * QueryExecutionListener or `queryExecution.observedMetrics`, so a
    * production run can ALARM on recall-lossy drops.
    */
  private[operators] def dropHotBuckets(bandedAll: DataFrame, keys: Seq[String],
      maxBucket: Int, what: String): DataFrame = {
    if (maxBucket == Int.MaxValue) bandedAll
    else {
      val hot = bandedAll.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .where(col("n") > maxBucket)
        .localCheckpoint() // tiny; reused by the count below and the joins
      val stats = hot.agg(count(lit(1)), coalesce(sum(col("n")), lit(0L)))
        .collect()(0)
      if (stats.getLong(0) > 0)
        System.err.println(s"[graft] $what hot-bucket cap ($maxBucket) engaged: " +
          s"dropped ${stats.getLong(0)} buckets / ${stats.getLong(1)} banded rows; " +
          "pairs colliding ONLY in dropped buckets are lost (recall is reduced); " +
          "raise maxBucket to trade shuffle size for recall")
      // flag-then-filter instead of a bare anti-join: the pre-filter
      // stream is observed so the drop counters are live query metrics,
      // computed over the rows that actually flowed. NO broadcast hint:
      // the hot set is usually tiny (buckets over the cap) and the
      // planner will broadcast it from stats, but on a pathological
      // corpus it can be huge (every boilerplate shingle over the cap)
      // and a forced broadcast would OOM the driver — let the planner
      // degrade to a shuffle join there, as the old anti-join did
      val marked = bandedAll.join(
        hot.select(keys.map(col) :+ lit(true).as("_hot"): _*),
        keys, "left_outer")
      marked
        .observe(s"graft.$what.hotcap.${capObsId.incrementAndGet()}",
          sum(when(col("_hot"), lit(1L)).otherwise(lit(0L))).as("dropped_rows"),
          coalesce(max(when(col("_hot"), lit(stats.getLong(0))).otherwise(lit(0L))),
            lit(0L)).as("dropped_buckets"))
        .where(col("_hot").isNull)
        .drop("_hot")
    }
  }

  /** The capped bucket self-join every near-duplicate pair generator
    * runs (the banding step of *Mining of Massive Datasets* §3.4): drop
    * the buckets over `maxBucket` rows ([[dropHotBuckets]], observed as
    * `graft.<what>.hotcap.<n>`), then pair the rows sharing every `keys`
    * column, `i < j` on `id`. Returns (i, j, then `<p>_i` and `<p>_j` for
    * each other column `p` of `rows`) — one row per shared bucket, so a
    * pair meeting in several buckets repeats.
    */
  private[graft] def bucketPairs(rows: DataFrame, id: String, keys: Seq[String],
      maxBucket: Int, what: String): DataFrame = {
    val bounded = dropHotBuckets(rows, keys, maxBucket, what)
    val payload = rows.columns.toSeq.filterNot(c => c == id || keys.contains(c))
    def side(s: String) = bounded.select(
      keys.map(col) ++ (col(id).as(s) +: payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("i").join(side("j"), keys)
      .where(col("i") < col("j"))
      .select((Seq("i", "j") ++ payload.flatMap(p => Seq(s"${p}_i", s"${p}_j"))).map(col): _*)
  }

  /** One row per (doc, band) of a minhash signature: `carry` plus `band`
    * and its value `bv`, the hash of the band's RowsPerBand consecutive
    * minhashes `mh(k)`.
    */
  private def minhashBands(sigs: DataFrame, mh: Int => org.apache.spark.sql.Column,
      carry: String*): DataFrame = {
    val bands = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => mh(b * RowsPerBand + r))
      struct(lit(b).as("band"), hash(cols: _*).cast("long").as("bv"))
    }
    sigs.select(carry.map(col) :+ explode(array(bands: _*)).as("bb"): _*)
      .select(carry.map(col) ++ Seq(col("bb.band").as("band"), col("bb.bv").as("bv")): _*)
  }

  /** Candidate pairs (i < j) sharing at least one of the `Bands` band
    * hashes. Band value = hash of its RowsPerBand consecutive minhashes.
    *
    * `maxBucket` is the at-scale hot-bucket guard: a band value shared by
    * k docs produces k² candidate pairs, so one degenerate bucket (e.g.
    * boilerplate-heavy shingles) can blow up the join quadratically.
    * Buckets larger than the cap are dropped — the pairs they would have
    * contributed are overwhelmingly false positives, and genuinely
    * similar docs still collide in their other, rarer bands. The drop is
    * still lossy in the worst case (a true-dup pair whose every shared
    * band is hot); when the cap engages a `[graft]` line reports how many
    * buckets/rows were dropped so the recall tradeoff is visible.
    */
  def minhashCandidates(signatures: DataFrame,
      maxBucket: Int = Int.MaxValue): DataFrame =
    bucketPairs(minhashBands(signatures, i => col(s"mh$i"), "doc_id"),
      "doc_id", Seq("band", "bv"), maxBucket, "minhash")
      .select("i", "j")
      .distinct()

  /** End-to-end MinHash near-dedup: candidates verified with exact shingle
    * Jaccard ≥ threshold. Returns (i, j, jaccard).
    *
    * `maxBucket` caps band-bucket size (default 10k): on boilerplate-heavy
    * corpora where a bucket legitimately exceeds the cap, true duplicate
    * pairs whose OTHER bands are also hot are silently excluded from the
    * candidate set — recall < 1 in exchange for bounded join size. The cap
    * logs a `[graft]` drop report when it engages; pass
    * `maxBucket = Int.MaxValue` to disable it deliberately.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double,
      maxBucket: Int = 10000): DataFrame =
    // 64-bit shingle hashes (compiled single-pass UDF); the k-hash family
    // then mixes the long — not the string — per hash function.
    minhashVerifiedPairsFromHashes(
      docs.select(col("doc_id"), shingleHashes(col("text"), 3).as("hs")),
      threshold, maxBucket)

  /** [[minhashNearDups]] from a precomputed (doc_id, hs) shingle-hash
    * relation: row-local signatures → capped band join → exact verify on
    * candidates only. The per-doc hash ARRAY is what gets cached:
    * signatures derive from it row-locally (zero shuffle — the grouped
    * signature form would shuffle the full exploded relation), and the
    * verify join explodes it on demand.
    */
  private[operators] def minhashVerifiedPairsFromHashes(hashedRaw: DataFrame,
      threshold: Double, maxBucket: Int = 10000): DataFrame = {
    // serialized + disk-spillable: on a big corpus the per-doc hash
    // arrays must survive memory pressure, or the verify join silently
    // recomputes the shingling on cache eviction
    val hashed = hashedRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // (the eager localCheckpoint inside the unmanaged form is what makes
    // the finally-unpersist safe: the small dup-pair set is materialized
    // before the cache drops)
    try minhashVerifiedPairsUnmanaged(hashed, threshold, maxBucket)
    finally hashed.unpersist()
  }

  /** [[minhashVerifiedPairsFromHashes]] without the internal persist —
    * for callers whose (doc_id, hs) relation is already cached (the
    * incremental forms' prior-state route; re-persisting the filtered
    * projection doubled cache residency for the pair job's duration).
    */
  private def minhashVerifiedPairsUnmanaged(hashed: DataFrame,
      threshold: Double, maxBucket: Int = 10000): DataFrame = {
    val sigs = hashed
      .select(col("doc_id"), minhashSignatureArray(col("hs")).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => col("sig")(i).as(s"mh$i")): _*)
    val candidates = minhashCandidates(sigs, maxBucket)
    // eagerly materialize the small dup-pair set, then drop the cache
    // so long sessions don't accumulate cached shingle blocks
    verifyJaccard(candidates, hashed, threshold).localCheckpoint()
  }

  /** Exact-Jaccard verification of candidate (i, j) pairs against a
    * (doc_id, hs) shingle-hash-array relation: the per-doc hash ARRAYS
    * are joined to the candidate endpoints (two doc-keyed joins — at
    * most corpus-row-sized shuffles, and broadcast-sized when the
    * candidate set is small) and the intersection is computed ROW-
    * LOCALLY with `array_intersect` (hash-set probe; shingleHashes is
    * distinct, so distinct-intersection semantics are exact). Cost is
    * O(candidates × shingles-per-doc) compute and never more than
    * corpus rows shuffled — the pre-r15 explode→join→groupBy form
    * shuffled the FULL exploded shingle relation (~100× corpus rows)
    * twice per verify call, the measured wall-clock owner of the
    * keep_best_incremental 500k → 1M octave (Prof, r15). Returns
    * (i, j, jaccard) for pairs clearing the threshold.
    */
  private[graft] def verifyJaccard(candidates: DataFrame, hashed: DataFrame,
      threshold: Double): DataFrame = {
    val arrs = hashed.where(col("hs").isNotNull)
    candidates
      .join(arrs.select(col("doc_id").as("i"), col("hs").as("hi")), "i")
      .join(arrs.select(col("doc_id").as("j"), col("hs").as("hj")), "j")
      .withColumn("inter",
        size(array_intersect(col("hi"), col("hj"))).cast("long"))
      .withColumn("jaccard",
        col("inter") /
          (size(col("hi")) + size(col("hj")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Corpus-size routing knob for the exact-Jaccard near-dedup family
    * (`graft.neardedup.exactMaxRows`, default 20000): at or below it the
    * apply/keep-best pair generation runs the exact hot-capped shingle
    * self-join (the oracle-definition shape — cheapest at fixture scale
    * and exactly what the DuckDB SQL computes); above it, the banded
    * minhash candidate route + exact verify. SCALING_r13 measured the
    * exact route superlinear in its 50k→500k decade (keep_best exponent
    * 1.29, apply_incremental 1.13 — candidate-pair volume outgrowing the
    * corpus), while the banded route bounds bucket fan-out by
    * construction; 20000 sits under the measured 50k superlinear onset
    * with fixture scales (≤5000 docs) comfortably on the exact side.
    * Same routing pattern as `graft.embpipe.lshMaxRows`
    * (VectorOps.embeddingCorpusPipeline).
    */
  private[graft] def exactPairMaxRows(s: org.apache.spark.sql.SparkSession): Long =
    graft.GraftConf.NearDedupExactMaxRows(s).toLong

  /** Candidate-VOLUME routing cap (`graft.neardedup.exactMaxPairRows`,
    * default 5e7) — the second routing axis (r15, from the r14 verdict):
    * corpus ROW count alone misprices a boilerplate-heavy corpus, where
    * a few thousand docs sharing template shingles blow the exact
    * self-join up at tiny n (5k docs sharing 100 under-cap shingles =
    * 100 × C(5k,2) ≈ 1.2e9 join rows — two decades past what 50k
    * ORGANIC docs produce). [[estimatedExactPairRows]] prices the route
    * exactly before committing to it; above this cap the banded minhash
    * path runs even below [[exactPairMaxRows]]. The real fixtures sit
    * far under the default (sf0.1 documents: 1.27e6), so every oracle
    * stays on the exact-definition side.
    */
  private[graft] def exactMaxPairRows(s: org.apache.spark.sql.SparkSession): Long =
    graft.GraftConf.NearDedupExactMaxPairRows(s).toLong

  /** The EXACT number of rows the exact route's hot-capped shingle
    * self-join would emit: Σ_s C(f_s, 2) over the under-cap shingle
    * frequencies (over-cap shingles are dropped from that join, so they
    * price at zero). One map-side-combined aggregate over the exploded
    * shingle relation — the same first stage the exact route's join
    * itself pays, so pricing the route costs a fraction of running it.
    */
  private[graft] def estimatedExactPairRows(hashed: DataFrame): Long =
    hashed.where(col("hs").isNotNull)
      .select(explode(col("hs")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("f"))
      .where(col("f") <= TextOps.MaxShingleFreq)
      .agg(coalesce(sum(expr("f * (f - 1) DIV 2")), lit(0L)).as("est"))
      .head().getLong(0)

  /** Routed verified dup-pair generation over raw documents: exact
    * shingle self-join below [[exactPairMaxRows]] rows AND
    * [[exactMaxPairRows]] estimated join volume, minhash-LSH candidates
    * + exact verify above either. Both routes verify with the SAME
    * exact Jaccard, so above-threshold pairs agree wherever the bands
    * reach (all true dup pairs at fixture scale — the
    * pipeline_pretraining_corpus_scale precedent); the routed form keeps
    * the shared oracle SQL verbatim. Returns (i, j).
    *
    * The shingle relation is persisted here so the volume estimate and
    * the chosen route scan one cache (the pre-r15 form re-shingled per
    * consumer); the row probe itself is metadata (r18 — see
    * [[routingRows]]).
    */
  private[graft] def routedJaccardPairs(docs: DataFrame,
      threshold: Double): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), shingleHashes(col("text"), 3).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // safe to release after: both unmanaged routes eagerly materialize
    // their small pair output via localCheckpoint
    try routedJaccardPairsFromHashes(hashed, threshold)
    finally hashed.unpersist()
  }

  /** [[routedJaccardPairs]] over an already-persisted (doc_id, hs)
    * relation (the incremental forms' prior-state pair generation — the
    * volume estimate and both routes scan the caller's cache, and
    * neither route re-persists the projection: the unmanaged pair
    * generators avoid doubling cache residency for the pair job's
    * duration). The row probe sees THROUGH the cache to the plan that
    * produced it ([[graft.model.RowEst]] on the InMemoryRelation's
    * logical link); the volume estimate runs only when the row bound
    * keeps the exact route in play.
    */
  private[graft] def routedJaccardPairsFromHashes(hashed: DataFrame,
      threshold: Double): DataFrame = {
    val s = hashed.sparkSession
    if (routingRows(hashed) <= exactPairMaxRows(s) &&
        estimatedExactPairRows(hashed) <= exactMaxPairRows(s))
      TextOps.ngramJaccardPairsFromHashesUnmanaged(hashed, threshold).select("i", "j")
    else minhashVerifiedPairsUnmanaged(hashed, threshold).select("i", "j")
  }

  /** The row count the size-routing knobs compare against: a METADATA
    * upper bound when one exists ([[graft.model.RowEst]] — parquet
    * footers / local sizes through the non-growing plan nodes; free, no
    * job), else the pre-r18 `count()` probe. The bound over-counts a
    * filtered input, which errs exactly the safe way: the scale route
    * is oracle-identical at any size, the exact route is superlinear
    * past its onset.
    */
  private def routingRows(df: DataFrame): Long =
    graft.model.RowEst.upperBound(df).getOrElse(df.count())

  /** 64-bit SimHash per doc: for each token hash h and bit b, add tf if
    * bit set else -tf; signature bit b = sign of the sum. Computed in one
    * compiled row-local pass over the document — ZERO shuffles (the
    * grouped form needed two: explode→groupBy(doc,token) for tf, then
    * groupBy(doc) for the 64 bit sums; at 100 TB both shuffle the full
    * token relation). Hash family is Spark's `xxhash64(w)` — XXH64 over
    * the token's UTF-8 bytes, seed 42 — same signatures as the grouped
    * form. Docs with no non-empty tokens get a null signature (the
    * grouped form dropped them after the explode) and are filtered out.
    * Backed by the native codegen expression (TextNative.SimHash64), like
    * shingle/minhash — the earlier Scala-UDF form paid per-row String
    * boxing on the same corpus-wide map (byte-identical signatures,
    * pinned by NearDedupSpec).
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TextNative.simHash64(col("text")).as("simhash"))
      .where(col("simhash").isNotNull)

  /** Pairs within Hamming distance ≤ maxDist via the pigeonhole band join:
    * 4 × 16-bit chunks — any pair at distance ≤ 3 agrees exactly on ≥ 1
    * chunk. Verification = bit_count(xor) on candidates only.
    *
    * `maxBucket` caps chunk-bucket size with the same recall tradeoff as
    * [[minhashNearDups]]: an over-cap bucket is dropped (with a `[graft]`
    * drop report), losing pairs whose every agreeing chunk is hot. Pass
    * `Int.MaxValue` to disable.
    */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    hamming64NearDups(simhashSignatures(docs), "simhash", maxDist, maxBucket)

  /** Pairs of 64-bit signatures within Hamming distance ≤ maxDist — the
    * pigeonhole band join shared by simhash (text) and dHash
    * (perceptual image hash): any pair at distance ≤ 3 agrees exactly
    * on ≥ 1 of the 4 16-bit chunks; verification = bit_count(xor) on
    * candidates only. `sig` must carry (doc_id, `hashCol`: long).
    */
  def hamming64NearDups(sig: DataFrame, hashCol: String, maxDist: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole covers Hamming distance <= 3")
    val chunks = (0 until 4).map(cix =>
      struct(lit(cix).as("cix"), expr(s"($hashCol >> ${cix * 16}) & 65535").as("cv")))
    val chunked = sig
      .select(col("doc_id"), col(hashCol).as("h64"), explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("h64"), col("c.cix").as("cix"), col("c.cv").as("cv"))
    bucketPairs(chunked, "doc_id", Seq("cix", "cv"), maxBucket, hashCol)
      .distinct()
      .withColumn("hamming", bit_count(col("h64_i").bitwiseXOR(col("h64_j"))))
      .where(col("hamming") <= maxDist)
      .select(col("i"), col("j"), col("hamming"))
  }

  val defs: Seq[QueryDef] = Seq(

    noOracle("near_dedup_minhash") { (s, dir) =>
      minhashNearDups(Tables.documents(s, dir), threshold = 0.5)
        .orderBy("i", "j")
    },

    noOracle("near_dedup_simhash") { (s, dir) =>
      simhashNearDups(Tables.documents(s, dir), maxDist = 3)
        .orderBy("i", "j")
    },

    // The APPLY step of near-dedup — what a training-data pipeline
    // actually ships: cluster the dup pairs (connected components, since
    // near-duplication is not transitive pair-by-pair) and keep one
    // canonical doc (smallest id) per cluster. Oracled on the exact
    // n-gram Jaccard pairs; the minhash candidate path plugs into the
    // same clustering at scale.
    graft.QueryDef.withOracle(
      "near_dedup_apply",
      applyOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      keepMin(docs, GraphOps.connectedComponents(asEdges(routedJaccardPairs(docs, 0.1))))
    },

    // The NIGHTLY form of the apply step — the canonical clustering is
    // MAINTAINED, never recomputed over the full corpus: the prior
    // state is the existing corpus's CC labeling (node-sized), the new
    // batch contributes only the pairs that TOUCH it (bipartite
    // new×existing + new×new — existing×existing pair generation never
    // runs again), and the absorb is incremental CC over (prior stars ∪
    // new pairs). Composes dedup_incremental's bipartite join shape
    // with cc_incremental's labeling maintenance; the result must equal
    // the full batch recompute, so it shares near_dedup_apply's oracle.
    // The hot-shingle cap counts total frequency across old+new,
    // matching the batch form (at scale a cap tripped by frequency the
    // existing-only pass undercounted is the same lossy-drop tradeoff
    // dropHotBuckets already logs).
    graft.QueryDef.withOracle(
      "near_dedup_apply_incremental",
      applyOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val isNew = col("doc_id") % 4 === 0
      val hashed = docs
        .select(col("doc_id"), isNew.as("is_new"),
          shingleHashes(col("text"), 3).as("hs"))
        .where(col("hs").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try keepMinIncremental(docs, hashed) finally hashed.unpersist()
    },

    // The STORE-SERVED nightly apply (r16): identical semantics and
    // oracle to near_dedup_apply_incremental, but the existing corpus's
    // shingle signatures come from the persistent [[ShingleStore]]
    // instead of being recomputed — the recompute form re-tokenizes and
    // re-shingles the EXISTING corpus every run to rebuild a relation
    // that never changes (routedIncrementalPairs' scaladoc has named
    // this gap since r14); at 100 TB the store turns a nightly
    // full-corpus TEXT scan into a column-pruned read of long arrays.
    // The query exercises the full store lifecycle per run (build on
    // the existing corpus, crash-safe append of the new batch with a
    // durable batchId) and then runs the EXACT downstream machinery of
    // the recompute form over the store-read relation — sharing the
    // oracle proves store-served ≡ recompute ≡ full batch apply.
    // NearDedupSpec pins store ≡ recompute relation equality, replay
    // idempotence, and the torn-stats not-built read.
    graft.QueryDef.withOracle(
      "near_dedup_apply_store",
      applyOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val isNew = col("doc_id") % 4 === 0
      // nightly store lifecycle: the existing corpus's signatures were
      // persisted by last night's run (built fresh here — the lifecycle
      // is the claim); tonight's batch appends crash-safely
      val store = graft.Scratch.dir("graft_shinglestore")
      ShingleStore.build(s, docs.where(!isNew), store, n = 3, batchId = 0)
      ShingleStore.append(s, docs.where(isNew), store, batchId = 1)
      // the pair stages read the STORE — no text column, no re-shingling
      val hashed = ShingleStore.hashes(s, store)
        .withColumn("is_new", isNew)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try keepMinIncremental(docs, hashed) finally hashed.unpersist()
    },

    // Keep-BEST canonical selection — see [[keepBestCanonical]].
    graft.QueryDef.withOracle(
      "near_dedup_keep_best",
      keepBestOracleSql) { (s, dir) =>
      keepBestCanonical(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // The NIGHTLY form of keep-best — quality-argmax canonical
    // maintenance the way near_dedup_apply_incremental maintains the
    // min-id form: the prior state is the existing corpus's (labels,
    // kept-table) pair, the batch contributes only the pairs that touch
    // it, and ONLY the clusters the batch touched are re-argmaxed —
    // untouched clusters' kept rows pass through as data, never
    // recomputed. The result must equal the full recompute, so it
    // shares near_dedup_keep_best's oracle verbatim; NearDedupSpec
    // additionally proves ≡ full on merge / fresh-singleton / empty
    // batches. See [[keepBestCanonicalIncremental]] for the 100 TB cost
    // shape.
    graft.QueryDef.withOracle(
      "near_dedup_keep_best_incremental",
      keepBestOracleSql) { (s, dir) =>
      keepBestCanonicalIncremental(Tables.documents(s, dir),
        col("doc_id") % 4 === 0).orderBy("doc_id")
    },

    // The STORE-SERVED nightly keep-best (r17): identical semantics and
    // oracle to near_dedup_keep_best_incremental, with BOTH nightly
    // text costs closed — shingle signatures from the persistent
    // [[ShingleStore]] (as near_dedup_apply_store) AND the quality
    // signal from the store's row-local `q` sidecar, persisted by the
    // same pass that shingled each batch. At 100 TB the whole nightly
    // keep-best reads no text: long arrays + one double per doc,
    // column-pruned. The query runs the full store lifecycle (build on
    // the existing corpus, crash-safe sidecar-checked append of the new
    // batch) and the shared oracle proves store-served ≡ recompute ≡
    // full batch keep-best; NearDedupSpec additionally pins the
    // sidecar-mismatch refusal and store ≡ recompute row equality.
    graft.QueryDef.withOracle(
      "near_dedup_keep_best_store",
      keepBestOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val isNew = col("doc_id") % 4 === 0
      val store = graft.Scratch.dir("graft_shinglestore_kb")
      ShingleStore.build(s, docs.where(!isNew), store, n = 3, batchId = 0,
        sidecar = keepBestSidecar())
      ShingleStore.append(s, docs.where(isNew), store, batchId = 1,
        sidecar = keepBestSidecar())
      keepBestCanonicalStoreServed(s, store, isNew).orderBy("doc_id")
    },

    // RULE-swapped keep-best (r18, from r17 verdict item 3): the same
    // pair/cluster machinery under a DIFFERENT curation policy — keep
    // the LONGEST cluster member instead of the highest stopword-quality
    // one (what a pipeline wants when near-dups are truncations of one
    // original). The oracle is keepBestOracleSqlFor with the rule's
    // scoring expression in the scored CTE and NOTHING else changed, so
    // the rule-parameterized argmax stays under the shared-oracle proof;
    // NearDedupSpec additionally pins two non-quality rules across
    // full ≡ incremental ≡ store-served.
    graft.QueryDef.withOracle(
      "near_dedup_keep_best_rule",
      keepBestOracleSqlFor(KeepRule.longest)) { (s, dir) =>
      keepBestCanonical(Tables.documents(s, dir), rule = KeepRule.longest)
        .orderBy("doc_id")
    }
  )

  /** Shared DuckDB oracle for the keep-MIN apply family —
    * near_dedup_apply, its incremental and store-served forms, and the
    * streamed store fold (stream_shingle_append): every maintenance
    * strategy must land the identical kept set, and sharing the SQL
    * makes the driver prove it. (lazy: referenced by `defs`, which is
    * declared above it.)
    */
  private[graft] lazy val applyOracleSql: String =
    s"""WITH RECURSIVE ${TextOps.shinglePairCte()},
      |dup AS (SELECT i, j FROM pair JOIN sizes na ON i = na.doc_id
      |        JOIN sizes nb ON j = nb.doc_id
      |        WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.1),
      |edges AS (SELECT i AS a, j AS b FROM dup UNION SELECT j, i FROM dup),
      |nodes AS (SELECT DISTINCT a AS node FROM edges),
      |reach AS (SELECT node, node AS m FROM nodes
      |          UNION SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.node),
      |cc AS (SELECT node, min(m) AS canonical FROM reach GROUP BY node)
      |SELECT d.doc_id FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
      |WHERE cc.canonical IS NULL OR cc.canonical = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** The FULL apply step served entirely from a [[ShingleStore]] — the
    * downstream of the streamed store fold (stream_shingle_append): pair
    * generation, clustering and canonical selection run over the store's
    * committed (doc_id, hs) relation; no text is read except the final
    * doc-list join. Semantics identical to `near_dedup_apply` (shares
    * [[applyOracleSql]]).
    */
  def applyCanonicalFromStore(spark: org.apache.spark.sql.SparkSession,
      store: String, docs: DataFrame, threshold: Double = 0.1): DataFrame = {
    val hashed = ShingleStore.hashes(spark, store)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try keepMin(docs, GraphOps.connectedComponents(
      asEdges(routedJaccardPairsFromHashes(hashed, threshold))))
    finally hashed.unpersist()
  }

  private def asEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("i").as("src"), col("j").as("dst"))

  /** The keep-MIN canonical set: every doc outside a cluster plus each
    * cluster's smallest id, given the clusters' (node, label) labeling.
    */
  private def keepMin(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
      .where(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"))
      .orderBy("doc_id")

  /** The nightly keep-min apply over (doc_id, hs, is_new) signatures: the
    * prior state clusters the existing corpus only, then the absorb runs
    * incremental CC over the pairs that touch the new batch.
    */
  private def keepMinIncremental(docs: DataFrame, hashed: DataFrame): DataFrame = {
    val labels = GraphOps.connectedComponents(asEdges(routedJaccardPairsFromHashes(
      hashed.where(!col("is_new")).select("doc_id", "hs"), 0.1)))
    keepMin(docs, GraphOps.connectedComponentsIncremental(labels,
      routedIncrementalPairs(hashed, 0.1)))
  }

  /** Shared DuckDB oracle for near_dedup_keep_best AND its incremental
    * form — maintenance must land the identical kept set, and sharing
    * the SQL makes the driver prove it. (lazy: referenced by `defs`,
    * which is declared above it.)
    */
  private[operators] lazy val keepBestOracleSql: String =
    keepBestOracleSqlFor(KeepRule.quality)

  /** [[keepBestOracleSql]] with a [[KeepRule]]'s scoring expression in
    * the scored CTE — the ONLY part of the SQL a rule changes, which is
    * what keeps every rule-swapped form under the shared-oracle proof.
    */
  private[operators] def keepBestOracleSqlFor(rule: KeepRule): String =
    s"""WITH RECURSIVE ${TextOps.shinglePairCte()},
      |dup AS (SELECT i, j FROM pair JOIN sizes na ON i = na.doc_id
      |        JOIN sizes nb ON j = nb.doc_id
      |        WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.1),
      |edges AS (SELECT i AS a, j AS b FROM dup UNION SELECT j, i FROM dup),
      |nodes AS (SELECT DISTINCT a AS node FROM edges),
      |reach AS (SELECT node, node AS m FROM nodes
      |          UNION SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.node),
      |cc AS (SELECT node, min(m) AS canonical FROM reach GROUP BY node),
      |scored AS (SELECT d.doc_id,
      |       ${rule.scoreSql} AS q,
      |       coalesce(cc.canonical, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
      |r AS (SELECT doc_id, round(q, 4) AS q,
      |             row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
      |      FROM scored)
      |SELECT doc_id, q FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** The batch-scoped exact-Jaccard pair generation shared by the
    * incremental apply/keep-best forms: over a persisted
    * (doc_id, is_new, hs) relation, emit the verified pairs that TOUCH
    * the new batch — bipartite new×existing plus new×new;
    * existing×existing generation never runs again. The hot-shingle cap
    * counts total frequency across old+new, matching the batch form
    * (at scale a cap tripped by frequency the existing-only pass
    * undercounted is the same lossy-drop tradeoff dropHotBuckets
    * already logs). Returns (src, dst).
    */
  private[operators] def incrementalJaccardPairs(hashed: DataFrame,
      threshold: Double): DataFrame = {
    val sh = hashed.select(col("doc_id"), col("is_new"), explode(col("hs")).as("s"))
    val bounded = dropHotBuckets(sh, Seq("s"), TextOps.MaxShingleFreq,
      "incremental shingle")
    val sizes = hashed.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    val newSh = bounded.where(col("is_new")).select(col("doc_id").as("j"), col("s"))
    val bip = bounded.where(!col("is_new")).select(col("doc_id").as("i"), col("s"))
      .join(newSh, "s").select(col("i"), col("j"))
    val nn = newSh.select(col("j").as("i"), col("s"))
      .join(newSh, "s").where(col("i") < col("j")).select(col("i"), col("j"))
    TextOps.jaccardAtLeast(bip.unionAll(nn).groupBy("i", "j").agg(count(lit(1)).as("inter")),
        sizes, threshold)
      .select(col("i").as("src"), col("j").as("dst"))
  }

  /** Routed batch-touching pair generation for the incremental forms:
    * [[incrementalJaccardPairs]] (exact bipartite shingle join) below
    * [[exactPairMaxRows]] rows AND [[exactMaxPairRows]] estimated
    * volume (the full-join Σ C(f,2) upper-bounds the batch-touching
    * quadrants, so a boilerplate corpus routes banded here too — the
    * conservative side), [[incrementalMinhashPairs]] (banded candidates
    * restricted to pairs touching the batch, exact verify) above
    * either. `hashed` = the caller's persisted (doc_id, is_new, hs)
    * relation; the count, estimate and route scan its cache. Returns
    * (src, dst).
    */
  private[operators] def routedIncrementalPairs(hashed: DataFrame,
      threshold: Double): DataFrame = {
    val s = hashed.sparkSession
    if (routingRows(hashed) <= exactPairMaxRows(s) &&
        estimatedExactPairRows(hashed) <= exactMaxPairRows(s))
      incrementalJaccardPairs(hashed, threshold)
    else incrementalMinhashPairs(hashed, threshold)
  }

  /** [[incrementalJaccardPairs]] on the banded scale path: row-local
    * minhash signatures over old+new (signatures are per-doc, so the
    * existing side pays one linear pass — at scale a production fold
    * would persist them alongside the corpus), capped band join
    * restricted to candidates with at least one NEW endpoint (the
    * existing×existing quadrant never joins), exact-Jaccard verify on
    * candidates only. The hot-band cap counts bucket size across old+new
    * like the exact route's shingle cap. Returns (src, dst) with i < j
    * (edge direction is irrelevant to the CC absorb both consumers feed).
    */
  private[operators] def incrementalMinhashPairs(hashed: DataFrame,
      threshold: Double, maxBucket: Int = 10000): DataFrame = {
    val sigs = hashed
      .select(col("doc_id"), col("is_new"), minhashSignatureArray(col("hs")).as("sig"))
      .where(col("sig").isNotNull)
    val candidates = bucketPairs(minhashBands(sigs, i => col("sig")(i), "doc_id", "is_new"),
        "doc_id", Seq("band", "bv"), maxBucket, "incremental minhash")
      .where(col("is_new_i") || col("is_new_j"))
      .select("i", "j")
      .distinct()
    verifyJaccard(candidates, hashed.select("doc_id", "hs"), threshold)
      .select(col("i").as("src"), col("j").as("dst"))
  }

  /** Keep-BEST canonical selection — the production variant of the apply
    * step: per duplicate cluster retain the highest-QUALITY member
    * (stopword-ratio score, the text_quality_score signal; ties broken
    * toward the smallest doc_id), not the smallest id. What a training
    * pipeline actually wants when near-dups differ in cleanliness (e.g.
    * a boilerplate-wrapped crawl copy vs the clean original).
    *
    * Plan shape: the same banded pair generation + connected components
    * as near_dedup_apply, then ONE aggregation over (cluster, q, doc_id)
    * — max_by under a (q, -doc_id) struct ordering, so the argmax is a
    * map-side-combinable groupBy shuffling ~24 bytes/row, never a
    * documents-sized window. Cluster count <= doc count, so the agg
    * output is strictly smaller than its input — scales to 100 TB
    * wherever the pair step does. Returns (doc_id, q) of the kept docs.
    */
  def keepBestCanonical(docs: DataFrame, threshold: Double = 0.1,
      rule: KeepRule = KeepRule.quality): DataFrame = {
    val cc = GraphOps.connectedComponents(asEdges(routedJaccardPairs(docs, threshold)))
    docs.select(col("doc_id"), rule.score.as("q"))
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("label"), col("doc_id")))
      .groupBy("cluster")
      .agg(max_by(struct(col("doc_id"), col("q")),
        struct(col("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("best.doc_id").as("doc_id"), col("best.q").as("q"))
  }

  /** The stopword-ratio quality signal keep-best argmaxes on (the
    * text_quality_score contract, rounded to 4 for cross-engine ties).
    */
  private def qualityScore: org.apache.spark.sql.Column =
    round(stopwordCount(col("text")) / size(tokens(col("text"))).cast("double"), 4)

  /** A caller-supplied canonical-selection rule for the keep-best
    * family (r17 verdict item 3 — the hardcoded quality-max rule is one
    * curation policy among several; real pipelines also keep the
    * LONGEST member, a preferred-LANGUAGE member, or a trusted-SOURCE
    * member). A rule is a row-local numeric `score` over the docs
    * relation — HIGHER wins, ties break toward the smallest doc_id (the
    * total order [[argmaxBest]] has always used) — plus the DuckDB
    * expression computing the identical number over alias `d`, so every
    * rule-swapped form keeps the shared-oracle proof: the SQL is
    * [[keepBestOracleSqlFor]] with the rule's expression in the scored
    * CTE, nothing else changed. Scores are persisted/compared under the
    * fixed column name `q` everywhere (kept tables, the ShingleStore
    * sidecar), so rules compose with the store-served forms unchanged:
    * build the store with `keepBestSidecar(rule)` and the nightly
    * argmax reads the rule's number — still no text.
    */
  final case class KeepRule(label: String,
      score: org.apache.spark.sql.Column, scoreSql: String)

  object KeepRule {
    /** The default: stopword-ratio quality (text_quality_score). */
    val quality: KeepRule = KeepRule("quality",
      qualityScore,
      // raw triple quotes: these must carry SINGLE backslashes, matching
      // what the s-interpolated oracle template produces at runtime
      """round(len(regexp_extract_all(lower(d.text), '\b(the|a|and|of|to|in|is)\b'))""" +
        """ * 1.0 / len(string_split_regex(lower(d.text), '\s+')), 4)""")
    /** Length priority: keep the longest member (token count). */
    val longest: KeepRule = KeepRule("longest",
      size(tokens(col("text"))).cast("double"),
      """CAST(len(string_split_regex(lower(d.text), '\s+')) AS DOUBLE)""")
    /** Language priority: members whose `lang` appears EARLIER in
      * `preferred` outrank later ones; unlisted languages rank 0.
      */
    def langPriority(preferred: Seq[String]): KeepRule = {
      val n = preferred.size
      val score = preferred.zipWithIndex.foldLeft(lit(0.0)) {
        case (acc, (l, i)) => when(col("lang") === l, lit((n - i).toDouble)).otherwise(acc)
      }
      val sql = preferred.zipWithIndex
        .map { case (l, i) => s"WHEN d.lang = '$l' THEN ${(n - i)}.0" }
        .mkString("CAST(CASE ", " ", " ELSE 0.0 END AS DOUBLE)")
      KeepRule(s"lang:${preferred.mkString(">")}", score, sql)
    }
    /** Source priority: the [[langPriority]] shape over `source`. */
    def sourcePriority(preferred: Seq[String]): KeepRule = {
      val n = preferred.size
      val score = preferred.zipWithIndex.foldLeft(lit(0.0)) {
        case (acc, (s, i)) => when(col("source") === s, lit((n - i).toDouble)).otherwise(acc)
      }
      val sql = preferred.zipWithIndex
        .map { case (s, i) => s"WHEN d.source = '$s' THEN ${(n - i)}.0" }
        .mkString("CAST(CASE ", " ", " ELSE 0.0 END AS DOUBLE)")
      KeepRule(s"source:${preferred.mkString(">")}", score, sql)
    }
  }

  /** Per-(cluster, q, doc_id) quality argmax under the keep-best total
    * order — max_by over a (q, -doc_id) struct: map-side-combinable,
    * ~24 bytes/row shuffled, never a window. `rows` must carry
    * (cluster, doc_id, q).
    */
  private def argmaxBest(rows: DataFrame): DataFrame =
    rows.groupBy("cluster")
      .agg(max_by(struct(col("doc_id"), col("q")),
        struct(col("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster"), col("best.doc_id").as("doc_id"), col("best.q").as("q"))

  /** NIGHTLY keep-best maintenance — [[keepBestCanonical]] as an
    * incremental fold, the quality-argmax sibling of
    * `near_dedup_apply_incremental`. `isNew` marks the arriving batch;
    * everything else is the existing corpus whose (labels, kept-table)
    * state a production pipeline would read from storage (computed
    * in-query here so the declared query PROVES maintenance ≡ full
    * recompute against the shared oracle).
    *
    * Cost shape at 100 TB — nothing corpus² or corpus-wide except the
    * one existing-side shingle pass the pair join needs:
    *
    *   1. new pairs = bipartite new×existing + new×new only
    *      ([[incrementalJaccardPairs]] — existing×existing never again);
    *   2. updated labels = incremental CC over (prior stars ∪ new
    *      pairs) — prior-labeling-sized, not pair-history-sized;
    *   3. AFFECTED clusters = labels of batch docs + relabeled docs
    *      (batch-scoped, broadcast-sized); only their members are
    *      re-scored and re-argmaxed;
    *   4. untouched clusters' kept rows pass through from the prior
    *      kept table unread-and-unchanged (an anti-join on the
    *      broadcast affected set);
    *   5. batch docs with no dup pair anywhere become their own
    *      clusters (batch-sized scoring pass).
    */
  def keepBestCanonicalIncremental(docs: DataFrame,
      isNew: org.apache.spark.sql.Column,
      threshold: Double = 0.1,
      rule: KeepRule = KeepRule.quality): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), isNew.as("is_new"),
        shingleHashes(col("text"), 3).as("hs"))
      .where(col("hs").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try keepBestIncrementalCore(hashed,
      docs.select(col("doc_id"), isNew.as("is_new"), rule.score.as("q")),
      threshold)
    finally hashed.unpersist()
  }

  /** [[keepBestCanonicalIncremental]] SERVED FROM the persistent
    * [[ShingleStore]] — the keep-best sibling of `near_dedup_apply_store`
    * and the close of the family's last nightly recompute: the
    * incremental form still re-tokenizes and re-shingles the EXISTING
    * corpus each run for its pair stages AND re-scores its quality
    * signal for the prior kept table. Here both come from the store —
    * the shingle arrays as (doc_id, hs) and the quality score as the
    * store's row-local `q` SIDECAR (persisted by the same pass that
    * shingled each batch on arrival) — so the whole nightly keep-best
    * touches no text at all: a column-pruned read of long arrays and one
    * double per doc. `isNew` marks which store rows are tonight's batch.
    */
  def keepBestCanonicalStoreServed(spark: org.apache.spark.sql.SparkSession,
      store: String, isNew: org.apache.spark.sql.Column,
      threshold: Double = 0.1): DataFrame = {
    val rel = ShingleStore.read(spark, store)
    val hashed = rel
      .select(col("doc_id"), isNew.as("is_new"), col("hs"))
      .where(col("hs").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try keepBestIncrementalCore(hashed,
      rel.select(col("doc_id"), isNew.as("is_new"), col("q")),
      threshold)
    finally hashed.unpersist()
  }

  /** The quality sidecar the keep-best store persists alongside each
    * batch's signatures — MUST stay the [[qualityScore]] expression so
    * store-served argmaxes equal the recompute's.
    */
  def keepBestSidecar(rule: KeepRule = KeepRule.quality)
      : Seq[(String, org.apache.spark.sql.Column)] =
    Seq("q" -> rule.score)

  /** The maintenance fold shared by the text-scanning and store-served
    * keep-best forms: `hashed` = the caller's PERSISTED
    * (doc_id, is_new, hs) relation (null-signature docs already
    * dropped — they carry no pair evidence), `docsQ` = (doc_id, is_new,
    * q) over the WHOLE corpus (null-signature docs included: they score
    * as their own clusters). See [[keepBestCanonicalIncremental]] for
    * the 100 TB cost shape.
    */
  private def keepBestIncrementalCore(hashed: DataFrame, docsQ: DataFrame,
      threshold: Double): DataFrame = {
    {
      // prior state: the existing corpus's labeling and kept table
      val labels = GraphOps.connectedComponents(asEdges(routedJaccardPairsFromHashes(
        hashed.where(!col("is_new")).select("doc_id", "hs"), threshold)))
        .localCheckpoint() // feeds the incremental CC AND the change diff
      val keptPrior = argmaxBest(
        docsQ.where(!col("is_new"))
          .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("q"),
            coalesce(col("label"), col("doc_id")).as("cluster")))
      // the nightly absorb
      val pairsNew = routedIncrementalPairs(hashed, threshold)
      val updated = GraphOps.connectedComponentsIncremental(labels, pairsNew)
        .localCheckpoint() // affected discovery + member scan + passthrough map
      // affected = clusters (new labeling) holding a batch doc or a
      // relabeled doc; batch-scoped, so the semi/anti joins broadcast
      val affected = updated
        .join(labels.withColumnRenamed("label", "old_label"), Seq("node"), "left_outer")
        .where(col("old_label").isNull || col("old_label") =!= col("label"))
        .select("label").distinct()
      val keptAffected = argmaxBest(
        updated.join(broadcast(affected), Seq("label"), "left_semi")
          .select(col("node").as("doc_id"), col("label").as("cluster"))
          .join(docsQ.select("doc_id", "q"), "doc_id"))
      // untouched clusters: prior kept rows whose cluster id (itself a
      // member node) did not land in an affected cluster
      val clusterNewLabel = updated
        .withColumnRenamed("node", "cluster").withColumnRenamed("label", "new_label")
      val keptUntouched = keptPrior
        .join(clusterNewLabel, Seq("cluster"), "left_outer")
        .join(broadcast(affected.withColumnRenamed("label", "al")),
          coalesce(col("new_label"), col("cluster")) === col("al"), "left_anti")
        .select("cluster", "doc_id", "q")
      // batch docs with no dup pair anywhere: their own clusters
      val newSingles = docsQ.where(col("is_new"))
        .join(updated.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("cluster"), col("doc_id"), col("q"))
      keptUntouched.unionByName(keptAffected).unionByName(newSingles)
        .select(col("doc_id"), col("q"))
    }
  }
}
