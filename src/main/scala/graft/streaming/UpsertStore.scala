package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned LSM-flavored upsert store for streamed serving
  * views (`stream_upsert`'s maintainer).
  *
  * The round-9 form re-read and re-wrote the WHOLE serving store every
  * microbatch (anti-join + union + swap) — at 100 TB the store is the
  * full keyspace and a microbatch touches a sliver, so whole-store I/O
  * per batch is the same scale bug the label store had. Here a fold is
  * pure APPEND: the change batch lands as new files in its keys' hash
  * buckets carrying a monotone `_seq` (Structured Streaming's batchId)
  * and a `_deleted` tombstone flag; nothing existing is read, rewritten
  * or renamed. Reads resolve each key to its highest-_seq version and
  * drop tombstones; [[lookup]] is the point-read form (the ElephantDB
  * random-read role this store replaces — `BatchWorkflow.java:359-364`):
  * it prunes the scan to the looked-up keys' bucket directories.
  * [[compact]] is the offline maintenance pass that rewrites the store
  * down to one live row per key (the batch layer to the folds' speed
  * layer — the Lambda shape at the storage level); [[needsCompact]] /
  * [[maintain]] are the files-per-bucket trigger policy.
  *
  * Crash story, simpler than a swap protocol on the WRITE path because
  * folds never delete anything:
  *
  *   - a fold that crashes mid-commit leaves at most a PREFIX of the
  *     batch's files visible; every prior version remains untouched, so
  *     reads stay correct (they just don't see the half-landed batch);
  *   - Structured Streaming replays an uncommitted batch with the SAME
  *     batchId, so the retry writes rows with the same `_seq` — reads
  *     collapse exact (key, _seq) duplicates, making replay idempotent;
  *   - [[compact]] REPLACES the store, so it goes through the
  *     [[graft.model.StoreSwap]] two-rename protocol: the new version
  *     is fully staged at `dir.tmp` before any live file is touched,
  *     and a crash at any point leaves a complete version under `dir`
  *     or `dir.old` (never the delete-before-rename empty-bucket window
  *     a dynamic partition overwrite has). Reads resolve the current
  *     version via `StoreSwap.readablePath`; folds roll an interrupted
  *     swap back before appending (an append into a mid-swap-absent
  *     `dir` would silently found a NEW store holding only that batch).
  *
  * SINGLE-WRITER maintenance contract: the process that owns folds also
  * owns compaction — [[compact]]/[[maintain]] must not run concurrently
  * with a live fold (a fold appended between compact's read and its
  * commit would be swapped away). The natural seam is the foreachBatch
  * maintainer calling [[maintain]] between batches, or an operator
  * running [[compact]] in a maintenance window — the same discipline as
  * FactStore consolidate.
  */
object UpsertStore {

  /** Hash buckets for the keyspace; FIXED for the store's life (it is
    * the partitioning folds append into). Production sizes this so a
    * compacted bucket is ~128 MB.
    */
  val DefaultBuckets = 8

  /** Folds-per-bucket a bucket may accumulate before [[needsCompact]]
    * fires. Each fold adds O(shuffle-partitions-touching-the-bucket)
    * files; past this the read-side merge (and open-file count) starts
    * to dominate — the LSM "too many sorted runs" signal.
    */
  val DefaultMaxFilesPerBucket = 16

  private def bucketCol(keys: Seq[String], n: Int): Column =
    pmod(hash(keys.map(col): _*), lit(n))

  private def fs(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  // The store self-describes its bucket count via the shared
  // [[BucketMeta]] sidecar (atomic temp-then-rename write; an
  // unparsable file reads as absent rather than poisoning every later
  // fold/lookup/compact with a parse error).

  /** Append one change batch: `deletedCol` (if set) names a Boolean
    * column of `batch` marking tombstone rows — it is consumed into the
    * store's `_deleted` flag (NULL = not deleted: a nullable CDC op
    * flag must not silently drop live rows through three-valued
    * `!null`), so payload schemas stay identical across folds with and
    * without deletes. `seq` must be monotone across folds —
    * foreachBatch's batchId is exactly that. Writes ONLY into the batch
    * keys' bucket directories; existing files are never touched.
    *
    * Contract: a batch carries AT MOST ONE row per key. Rows sharing a
    * key within one fold also share `_seq`, and the read-side argmax
    * would resolve them arbitrarily — a DataFrame has no row order to
    * define "last write wins" inside a batch. Pre-aggregate multi-op
    * CDC batches to their final per-key state before folding (what a
    * keyed CDC feed does anyway).
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String], seq: Long, deletedCol: Option[String] = None,
      nBuckets: Int = DefaultBuckets): Unit = {
    // an empty batch must not create an empty directory (a dir holding
    // only _SUCCESS fails schema inference on the next read)
    if (batch.isEmpty) return
    // a compact that crashed mid-swap leaves `dir` absent and the real
    // store at `dir.old`; appending would found a new store holding only
    // this batch, and the later swap recovery would then DELETE the old
    // version under it. Roll the interrupted swap back first (no-op on a
    // healthy store; the stale staged `dir.tmp` is discarded, never
    // promoted over folds that may postdate it).
    recoverForWrite(spark, dir)
    // persist (and enforce) the store's bucket modulus: folding with a
    // different count than the store was built with would scatter a
    // key's versions across incompatible partitionings
    BucketMeta.read(spark, dir).foreach { n =>
      require(n == nBuckets,
        s"store at $dir was built with nBuckets=$n; fold got $nBuckets")
    }
    val withDel = deletedCol match {
      case Some(c) => batch.withColumn(c, coalesce(col(c), lit(false)))
        .withColumnRenamed(c, "_deleted")
      case None => batch.withColumn("_deleted", lit(false))
    }
    withDel
      .withColumn("_seq", lit(seq))
      .withColumn("bucket", bucketCol(keys, nBuckets))
      // one file per touched bucket per batch (the compact discipline),
      // not one per batch partition per bucket
      .repartition(col("bucket"))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(dir)
    BucketMeta.write(spark, dir, nBuckets)
  }

  /** Roll back a compact swap that crashed with the store absent; keep
    * any stale staging out of the way. Never promotes `dir.tmp` — only
    * [[compact]] itself does, immediately after staging it, so a tmp
    * found here may predate later folds.
    */
  private def recoverForWrite(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark)
    val s = new Path(dir)
    val o = new Path(graft.model.StoreSwap.oldPath(dir))
    val t = new Path(graft.model.StoreSwap.tmpPath(dir))
    if (!f.exists(s) && f.exists(o)) {
      require(f.rename(o, s), s"rollback rename $o -> $s failed")
      if (f.exists(t)) f.delete(t, true)
    }
  }

  /** One-pass latest-version resolve: max_by over the non-key columns
    * keyed on `_seq` — a map-side-combinable argmax aggregate, not a
    * per-key window and not a max+self-join (which would scan the store
    * twice). One row per key by construction, so the exact duplicates a
    * replayed fold leaves (same key, same _seq, same content) collapse
    * for free.
    */
  private def latestPerKey(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val carried = rows.columns.filterNot(keys.contains)
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*), col("_seq")).as("_r"))
      .select(keys.map(col) ++ carried.map(c => col(s"_r.$c").as(c)): _*)
  }

  /** The store's current readable root: `dir`, or the `dir.old` a
    * mid-compact crash preserved. None if never written.
    */
  private def readableRoot(spark: SparkSession, dir: String): Option[String] =
    graft.model.StoreSwap.readablePath(spark, dir)

  /** Current state: latest version per key, tombstones dropped,
    * bookkeeping columns removed. None if the store has never been
    * written. Resolves a mid-compact-crash store through
    * `StoreSwap.readablePath` (absence-during-swap is NOT "empty").
    */
  def read(spark: SparkSession, dir: String, keys: Seq[String]): Option[DataFrame] =
    readableRoot(spark, dir).map { root =>
      latestPerKey(spark.read.parquet(root), keys)
        .where(!col("_deleted"))
        .drop("_seq", "_deleted", "bucket")
    }

  /** Point lookup — the serving random-read: resolve `keyVals` (one
    * Seq per composite key tuple, values in `keys` order) reading ONLY
    * those keys' bucket directories. The bucket ids are computed
    * DRIVER-SIDE by evaluating the same `pmod(hash(...), n)` expression
    * the folds partition by (zero Spark jobs — Catalyst interpreted
    * eval over literals), then pushed as a static `bucket IN (...)`
    * partition filter, so the scan reads ≤ |keyVals| of the store's
    * `bucket=` directories; the key equality predicate prunes rows
    * within them. Results ≡ `read(...).filter(keys in keyVals)`
    * (UpsertStoreSpec pins both the equivalence and the partition
    * count).
    *
    * Literals are cast to the STORE's key column types before hashing —
    * `hash` is type-sensitive (hash(5) != hash(5L)), so an Int passed
    * for a Long key column would otherwise probe the wrong bucket.
    *
    * The bucket count comes from the store's OWN metadata sidecar
    * (written by fold), never trusted from a parameter: a
    * caller-supplied count that disagreed with the fold-time
    * partitioning would hash keys into buckets the filter then
    * excludes — an existing key silently resolving to nothing.
    * `nBuckets` remains only as an explicit override for pre-sidecar
    * stores (0 = read the sidecar, the default).
    */
  def lookup(spark: SparkSession, dir: String, keys: Seq[String],
      keyVals: Seq[Seq[Any]], nBuckets: Int = 0): Option[DataFrame] =
    readableRoot(spark, dir).map { root =>
      require(keyVals.nonEmpty, "lookup needs at least one key tuple")
      require(keyVals.forall(_.length == keys.length),
        s"every key tuple must have ${keys.length} values (keys=$keys)")
      val n =
        if (nBuckets > 0) nBuckets
        else BucketMeta.read(spark, root).getOrElse(sys.error(
          s"store at $root has no readable bucket-count sidecar " +
            "(pre-r11 store, or a torn pre-r12 sidecar write); " +
            "pass nBuckets explicitly"))
      val store = spark.read.parquet(root)
      val keyTypes = keys.map(k => store.schema(k).dataType)
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
      // cast under the SESSION timezone, not a hardcoded zone: for
      // timestamp-typed keys folded under a non-UTC session a "UTC"
      // literal cast can hash to a different bucket than the fold-time
      // hash(col), and the partition filter would then exclude the
      // key's real bucket — the silent-miss this sidecar-driven path
      // exists to prevent
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val bucketIds = keyVals.map { vs =>
        val lits = vs.zip(keyTypes).map { case (v, dt) =>
          Cast(Literal(v), dt, tz).eval(null)
        }.zip(keyTypes).map { case (v, dt) => Literal(v, dt) }
        Pmod(new Murmur3Hash(lits), Literal(n))
          .eval(null).asInstanceOf[Int]
      }.distinct
      val keyPred = keyVals.map { vs =>
        keys.zip(vs).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      }.reduce(_ || _)
      latestPerKey(
        store.where(col("bucket").isin(bucketIds: _*) && keyPred), keys)
        .where(!col("_deleted"))
        .drop("_seq", "_deleted", "bucket")
    }

  /** Live parquet part-file count of the fullest bucket (one listStatus
    * per bucket — driver metadata only, no Spark job). 0 for a store
    * that was never written.
    */
  def maxFilesPerBucket(spark: SparkSession, dir: String): Int =
    readableRoot(spark, dir).map { root =>
      val f = fs(spark)
      val buckets = f.listStatus(new Path(root))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
      if (buckets.isEmpty) 0
      else buckets.map(b => f.listStatus(b.getPath)
        .count(st => st.isFile && !st.getPath.getName.startsWith("_"))).max
    }.getOrElse(0)

  /** The compaction trigger: true once any bucket has accumulated more
    * than `maxFiles` part files (each fold appends its own). Cheap
    * enough to call every batch; see the single-writer contract on the
    * object scaladoc for WHO gets to act on it.
    */
  def needsCompact(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    maxFilesPerBucket(spark, dir) > maxFiles

  /** Run [[compact]] iff [[needsCompact]]; returns whether it ran. The
    * maintenance policy entry point for a fold loop: call between
    * batches (never concurrently with one).
    */
  def maintain(spark: SparkSession, dir: String, keys: Seq[String],
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean = {
    val due = needsCompact(spark, dir, maxFiles)
    if (due) compact(spark, dir, keys)
    due
  }

  /** Rewrite the store down to its live rows (latest version per key,
    * tombstoned keys dropped entirely — safe because their shadowed
    * versions are dropped in the same pass). `_seq` and `_deleted` are
    * kept so later folds keep winning and the on-disk schema stays
    * uniform. The rows are repartitioned by bucket before the write so
    * a compacted bucket is ~1 file.
    *
    * Crash-safe via [[graft.model.StoreSwap]]: the compacted version is
    * fully staged at `dir.tmp` (so the plan reads the live store while
    * writing elsewhere — no lineage cut needed), then swapped in with
    * the two-rename protocol. At every crash point a complete version
    * exists under `dir` or `dir.old` — never the empty-bucket window of
    * a dynamic partition overwrite, whose job commit deletes a bucket's
    * files before renaming replacements in. A store whose rows are ALL
    * tombstones keeps its files (an empty parquet dir would fail schema
    * inference); its reads are empty either way. Run in maintenance
    * windows, not under live writers (see the single-writer contract).
    */
  def compact(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    recoverForWrite(spark, dir)
    val f = fs(spark)
    val tmp = graft.model.StoreSwap.tmpPath(dir)
    f.delete(new Path(tmp), true) // stale staging from a crashed compact
    val live = latestPerKey(spark.read.parquet(dir), keys)
      .where(!col("_deleted"))
    if (live.isEmpty) return
    live
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(tmp)
    // the bucket-count sidecar must survive the swap (tmp becomes dir)
    BucketMeta.read(spark, dir).foreach(BucketMeta.write(spark, tmp, _))
    graft.model.StoreSwap.commit(spark, dir)
  }
}
