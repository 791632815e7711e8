package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ index: the lambda-architecture treatment of ANN
  * search (reference: the precomputed-batch-view discipline of
  * BatchWorkflow.java — views are built once from the master data and
  * served many times). An index build is exactly such a view: train the
  * coarse quantizer + residual codebooks once (sample-bounded), encode
  * the corpus to (id, cell, m bytes), and persist
  *
  *   - the CODES table partitioned by `cell` — parquet directories ARE
  *     the inverted lists, so a search's `cell IN (probed)` filter is
  *     partition pruning and the scan reads only nProbe/nCells of the
  *     index bytes (~m bytes per row of those cells, vs dims·4 for raw
  *     embeddings: both prunings compose on disk);
  *   - the CODEBOOKS as a small parquet side table (kind, sub, idx, vec),
  *     floats round-tripping exactly, so appended batches encode
  *     bit-identically to the build pass.
  *
  * `append` encodes new rows with the SAVED codebooks — no retrain, no
  * rewrite of existing cells' files; the nightly-crawl shape (compare
  * `dedup_incremental`). Quantizers drift as the corpus distribution
  * does; rebuilding is a policy decision (track residual magnitudes),
  * not something an append should silently trigger.
  *
  * Crash story (round 13 — the [[LexIndex]] discipline): the one-row
  * `meta` table (max_seq, last_batch) is the single commit point for
  * every mutation. Appends land under an uncommitted `seq=` partition
  * that searches — gated on `seq <= meta.max_seq` — cannot see until
  * the meta StoreSwap lands; [[recover]] prunes orphaned partitions so
  * an append RETRY converges instead of double-inserting; a caller's
  * durable batchId recorded in meta makes replays of committed batches
  * no-ops. [[maintain]] is the files-per-cell compaction trigger.
  *
  * MIGRATION (deliberate): indexes persisted by pre-r13 binaries — no
  * `meta` table, codes partitioned by `cell` only, no `seq` level — are
  * NOT readable by this version. [[searchIvfPq]]/[[appendIvfPq]] fail
  * loudly on the missing meta dir rather than guessing `max_seq = 0`
  * over a layout whose files carry no seq column at all (the
  * AnalysisException a synthesized filter would hit is the same
  * outcome, less explained). The upgrade is a rebuild into a fresh dir
  * — the physical partitioning changed, so there is no metadata-only
  * upgrade path, and silently serving a half-understood layout is the
  * one behavior a serving index must never have.
  *
  * Search reads the pruned codes table and runs the same
  * [[VectorOps.ivfPqSearch]] the in-query `ann_ivfpq` form uses — one
  * code path, so the prebuilt and in-query answers agree exactly
  * (VectorIndexSpec pins both that equality and the pruned scan shape).
  */
object VectorIndex {

  private def codesDir(dir: String) = dir + "/codes"
  private def booksDir(dir: String) = dir + "/codebooks"
  private def metaDir(dir: String) = dir + "/meta"

  /** Part files a cell may hold before [[needsCompact]] fires — each
    * append adds ~1 file per touched cell.
    */
  val DefaultMaxFilesPerCell = 16

  private def fs(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Build the index at `dir` — a dir that has never COMMITTED a build:
    * trains on `emb` (bounded by `maxTrainRows`), writes cell-partitioned
    * codes + codebooks, then the one-row `meta` table LAST — it is the
    * read path's append gate (max_seq), so a crash mid-FIRST-build
    * leaves an index that loudly reads as not-ready. `batchId` records a
    * durable caller sequence id so a replayed bootstrap batch is skipped
    * by the next [[appendIvfPq]]. Shapes auto-size from the corpus like
    * the in-query form.
    *
    * Rebuilding over a BUILT index is refused loudly (r14, from r13
    * ADVICE): overwriting codes/codebooks before the meta write has no
    * commit point — a crash in that window left OLD meta (reads as
    * ready) over NEW codes, or worse old codes under freshly-retrained
    * codebooks, and searches silently decoded wrong. Retrain-and-replace
    * (quantizer drift policy) goes to a fresh dir and flips the serving
    * pointer; in-place evolution is [[appendIvfPq]]/[[consolidate]]. A
    * TORN first build (codes/books staged, meta never committed) reads
    * as not-built and is simply rebuilt here — the retry converges.
    */
  /** `localCoarseTrain = true` trains the coarse quantizer with the
    * driver-local seeded k-means ([[VectorOps.trainQuantizerLocal]]) —
    * ONLY for sacrificial builds whose codebooks are retired before any
    * declared result reads them (the swap_vec v0 bootstrap). Every
    * recall-tracked index keeps the MLlib path (the r9 revert).
    */
  def buildIvfPq(spark: SparkSession, emb: DataFrame, dir: String,
      nCells: Int = 0, m: Int = 0, ks: Int = 0,
      maxTrainRows: Long = 100000L, nRows: Long = 0L,
      batchId: Long = -1L, localCoarseTrain: Boolean = false): Unit = {
    import spark.implicits._
    // repair a torn predecessor swap, then answer "has a build ever
    // COMMITTED" against the repaired state — committed probe, not bare
    // existence: a crash during the first build's meta write leaves
    // meta/ existing with only hidden staging inside, and that torn dir
    // must be cleared and rebuilt, never refused
    graft.model.StoreSwap.commit(spark, metaDir(dir))
    graft.model.StoreSwap.commit(spark, codesDir(dir))
    if (graft.model.StoreSwap.committedPath(spark, metaDir(dir)).isDefined)
      sys.error(s"refusing to rebuild over the built index at $dir — " +
        "write the retrained replacement to a fresh dir and flip the " +
        "serving pointer, or maintain this one via appendIvfPq/consolidate " +
        "(both crash-safe); rebuild-in-place has no atomic commit point")
    fs(spark).delete(new org.apache.hadoop.fs.Path(metaDir(dir)), true) // torn first-write leftover
    // n gates only the auto-shape sizing and the train-sample decision,
    // and an EXACT metadata count preserves both bit-for-bit — parquet
    // footers answer it with zero jobs on preservation-only plans
    // (filtered/derived inputs abstain and pay the count as before)
    val n = if (nRows > 0) nRows
      else graft.model.RowEst.exactCount(emb).getOrElse(emb.count())
    val cells = if (nCells > 0) nCells else VectorOps.ivfCells(n)
    val kCent = if (ks > 0) ks else VectorOps.pqCodebookSize(n)
    val dims = VectorOps.embDims(emb)
    val mSub = if (m > 0) m else VectorOps.pqSubspaces(dims)
    val unitEmb = VectorOps.withUnit(emb, "embedding", "unit")
    val trainIn = unitEmb.select(col("vec_id"), col("unit").as("embedding"))
    val centroidArr =
      if (localCoarseTrain)
        VectorOps.trainQuantizerLocal(trainIn, cells, maxTrainRows)
      else VectorOps.trainQuantizer(trainIn, cells, maxTrainRows, n)
    val assigned = VectorOps.ivfPqAssign(spark, unitEmb, centroidArr)
    val books = VectorOps.trainPqCodebooks(
      assigned.select(col("residual").as("embedding")), mSub, kCent, dims,
      maxTrainRows, n)
    VectorOps.ivfPqEncode(assigned, books)
      .withColumn("seq", lit(0))
      // one file per cell (the discipline appendIvfPq/consolidate always
      // had): without this every encode shuffle partition opened a writer
      // in every cell dir — partitions × cells part files per build, paid
      // again by every probed-cell read until the first consolidate
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell", "seq")
      .parquet(codesDir(dir))
    val coarseRows = centroidArr.zipWithIndex.map { case (v, i) =>
      ("coarse", 0, i, v.toSeq)
    }
    val bookRows = for {
      (book, s) <- books.zipWithIndex
      (cent, i) <- book.zipWithIndex
    } yield ("pq", s, i, cent.toSeq)
    (coarseRows ++ bookRows).toSeq
      .toDF("kind", "sub", "idx", "vec")
      .repartition(1) // broadcast-sized side table: one file
      .write.mode(SaveMode.Overwrite).parquet(booksDir(dir))
    graft.model.OneRowParquet.write(spark, metaDir(dir), MetaSchema, 0L, batchId)
  }

  /** The one-row meta table, written on the driver
    * ([[graft.model.OneRowParquet.write]], no Spark job).
    */
  private val MetaSchema = new org.apache.spark.sql.types.StructType()
    .add("max_seq", "long").add("last_batch", "long")

  /** Repair any torn mutation before the next write (driver-side
    * metadata only — the [[LexIndex.recover]] discipline on the vector
    * side): finish interrupted meta/codes StoreSwaps, then delete
    * `seq >` meta.max_seq code directories (orphans of an append that
    * crashed before its meta commit — readers never saw them, and
    * pruning them is what makes a RETRY converge instead of
    * double-inserting ids) and `_temporary` job-staging leftovers.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    recoverAndReadMeta(spark, dir)
    ()
  }

  /** Whether a COMMITTED build exists at `dir` — the bootstrap probe for
    * an append loop (`stream_vec_append`'s fold), resolving through a
    * possibly-torn meta swap the way every read path does (the
    * [[LexIndex.isBuilt]] pairing — callers never duplicate the private
    * meta layout).
    */
  def isBuilt(spark: SparkSession, dir: String): Boolean =
    graft.model.StoreSwap.committedPath(spark, metaDir(dir)).isDefined

  /** The committed (max_seq, last_batch) watermark pair — the read-only
    * monitoring/handoff probe ([[LexIndex.committedWatermarks]] on the
    * vector side): a rebuild catch-up replay checks the staged index's
    * batch high-water mark through this, never the private meta layout.
    * None if never built.
    */
  def committedWatermarks(spark: SparkSession, dir: String): Option[(Long, Long)] =
    graft.model.StoreSwap.committedPath(spark, metaDir(dir)).map { p =>
      val r = graft.model.OneRowParquet.head(spark, p)
      (r.getAs[Long]("max_seq"), r.getAs[Long]("last_batch"))
    }

  /** [[recover]], returning the (post-recovery) meta row so the append
    * path pays ONE read of the one-row table, not two. None if the
    * index has never been (completely) built.
    */
  private def recoverAndReadMeta(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.Row] = {
    graft.model.StoreSwap.commit(spark, metaDir(dir))
    graft.model.StoreSwap.commit(spark, codesDir(dir))
    val f = fs(spark)
    val codes = new org.apache.hadoop.fs.Path(codesDir(dir))
    // COMMITTED probe: a staging-only meta dir (first build crashed
    // mid-meta-write) must read as not-built — loudly, via the callers'
    // "index not built" error — not die inferring parquet schema here
    if (graft.model.StoreSwap.committedPath(spark, metaDir(dir)).isEmpty) None
    else {
      val meta = graft.model.OneRowParquet.head(spark, metaDir(dir))
      val maxSeq = meta.getAs[Long]("max_seq")
      if (f.exists(codes)) f.listStatus(codes).foreach { c =>
        val name = c.getPath.getName
        if (name == "_temporary") f.delete(c.getPath, true)
        else if (c.isDirectory && name.startsWith("cell=")) {
          f.listStatus(c.getPath).foreach { s =>
            val sn = s.getPath.getName
            if (sn == "_temporary") f.delete(s.getPath, true)
            else if (s.isDirectory && sn.startsWith("seq=") &&
                scala.util.Try(sn.stripPrefix("seq=").toLong).toOption.exists(_ > maxSeq))
              f.delete(s.getPath, true)
          }
        }
      }
      Some(meta)
    }
  }

  /** (coarse centroids, PQ codebooks) read back from `dir` — float-exact,
    * so encoding with them is bit-identical to the build pass.
    *
    * The codebooks table is a broadcast-sized side table (cells + m·ks
    * rows, one part file) that every search and append resolves, so it
    * is read with the parquet-hadoop reader on the driver — the
    * [[graft.model.OneRowParquet]] pattern extended to the one
    * remaining per-read metadata JOB on the vector serving path (a
    * Spark collect costs ~60-150 ms of fixed action overhead per read).
    * Any shape surprise or reader error falls back to the Spark read,
    * so correctness never depends on the fast path; both paths decode
    * the same float bits.
    */
  def readCodebooks(spark: SparkSession, dir: String): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val rows = readBooksLocal(spark, booksDir(dir)).getOrElse {
      spark.read.parquet(booksDir(dir))
        .select("kind", "sub", "idx", "vec").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getSeq[Float](3).toArray))
    }
    val coarse = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4)
    val pq = rows.filter(_._1 == "pq").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, cents) => cents.sortBy(_._3).map(_._4) }.toArray
    require(coarse.nonEmpty && pq.nonEmpty, s"no codebooks at $dir")
    (coarse, pq)
  }

  /** Driver-side read of the whole codebooks table: flat (string, int,
    * int, array<float>) rows via the parquet-example Group API. None on
    * any surprise — absent dir, no part files, nulls, an element shape
    * other than the standard 3-level LIST of FLOAT — and the caller
    * pays the Spark collect instead.
    */
  private def readBooksLocal(spark: SparkSession,
      dir: String): Option[Array[(String, Int, Int, Array[Float])]] =
    try {
      import org.apache.parquet.hadoop.ParquetReader
      import org.apache.parquet.hadoop.example.GroupReadSupport
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) None
      else {
        val parts = f.listStatus(p)
          .filter(st => st.isFile && st.getLen > 0 &&
            !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(_.getPath).sortBy(_.getName)
        if (parts.isEmpty) None
        else {
          val out = scala.collection.mutable.ArrayBuffer[(String, Int, Int, Array[Float])]()
          parts.foreach { file =>
            val reader = ParquetReader
              .builder(new GroupReadSupport(), file).withConf(conf).build()
            try {
              var g = reader.read()
              while (g != null) {
                // required fields present exactly once; a null/missing
                // field throws and the catch-all abstains
                val kind = g.getString("kind", 0)
                val sub = g.getInteger("sub", 0)
                val idx = g.getInteger("idx", 0)
                val list = g.getGroup("vec", 0) // LIST wrapper group
                val nEl = list.getFieldRepetitionCount(0)
                val arr = new Array[Float](nEl)
                var i = 0
                while (i < nEl) {
                  // 3-level list: repeated group element wrapper
                  arr(i) = list.getGroup(0, i).getFloat(0, 0)
                  i += 1
                }
                out += ((kind, sub, idx, arr))
                g = reader.read()
              }
            } finally reader.close()
          }
          if (out.isEmpty) None else Some(out.toArray)
        }
      }
    } catch {
      case _: Exception => None // fallback owns the error story
    }

  /** Append `newEmb` encoded with the SAVED codebooks: only the new rows
    * are written (into their cells' partition directories); existing
    * files and codebooks are untouched.
    *
    * CRASH-SAFE AND IDEMPOTENT since round 13 (the [[LexIndex.append]]
    * discipline — previously the one remaining store append without
    * it): the batch's codes land under the next uncommitted `seq=`
    * partition, invisible to [[searchIvfPq]] until the one-row `meta`
    * table swaps in the new `max_seq` through the crash-safe
    * [[graft.model.StoreSwap]] two-rename — a crash anywhere before
    * that swap leaves searches serving EXACTLY the old index, and
    * [[recover]] prunes the orphaned partitions so a retry converges
    * instead of double-inserting the batch's ids. Pass the caller's
    * durable `batchId` (a foreachBatch id) to make a REPLAY of an
    * already-committed batch a no-op.
    *
    * Append-only semantics otherwise, like `FactStore.ingest` (and the
    * reference's Pail.absorb): appending an id in two DIFFERENT batches
    * stores it twice, and both rows can then surface as candidates.
    * Dedup BEFORE appending — the `dedup_incremental` path is the
    * intended upstream — rather than paying a (p, c) distinct inside
    * every search.
    */
  def appendIvfPq(spark: SparkSession, newEmb: DataFrame, dir: String,
      batchId: Long = -1L): Unit = {
    val prev = recoverAndReadMeta(spark, dir)
      .getOrElse(sys.error(s"no readable meta under ${metaDir(dir)} — index not built"))
    if (graft.model.BatchLedger.isReplay(prev.getAs[Long]("last_batch"), batchId,
        s"vector index $dir"))
      return // exact replay of the committed batch: no-op (below-mark ids throw)
    val newSeq = prev.getAs[Long]("max_seq") + 1
    val (coarse, books) = readCodebooks(spark, dir)
    val unitEmb = VectorOps.withUnit(newEmb, "embedding", "unit")
    VectorOps.ivfPqEncode(VectorOps.ivfPqAssign(spark, unitEmb, coarse), books)
      .withColumn("seq", lit(newSeq.toInt))
      // one file per touched cell per batch (the maintenance policy's
      // cost model), not one per shuffle partition per cell
      .repartition(col("cell"))
      .write.mode(SaveMode.Append)
      .partitionBy("cell", "seq")
      .parquet(codesDir(dir))
    // THE commit point: only this swap makes seq=newSeq visible
    graft.model.OneRowParquet.write(spark, graft.model.StoreSwap.tmpPath(metaDir(dir)),
      MetaSchema, newSeq, math.max(prev.getAs[Long]("last_batch"), batchId))
    graft.model.StoreSwap.commit(spark, metaDir(dir))
  }

  /** Compact the codes table in place (Pail.consolidate for the index,
    * same rewrite-and-swap shape as `FactStore.consolidate`): streamed
    * micro-batch appends leave one small file per batch per touched cell,
    * and a search then pays per-file open cost across every probed cell.
    * Rewrites to one file per cell partition — at the √n cell sizing a
    * cell's codes are a few MB even at 10⁹ rows (m bytes/row), and an
    * oversized cell can still split via `maxRecordsPerFile`. The row
    * multiset — and therefore every search answer — is unchanged. The
    * swap is the crash-safe [[graft.model.StoreSwap.commit]] two-rename
    * protocol: a complete codes table exists at every intermediate
    * state. Like the FactStore form this is an offline maintenance
    * pass: run it between serving windows, not under live readers.
    */
  def consolidate(spark: SparkSession, dir: String): Unit = {
    // self-heal a predecessor's mid-swap crash and prune any orphaned
    // uncommitted append before reading — folding an orphan into the
    // rewrite would silently commit it
    val maxSeq = recoverAndReadMeta(spark, dir)
      .getOrElse(sys.error(s"no readable meta under ${metaDir(dir)} — index not built"))
      .getAs[Long]("max_seq")
    spark.read.parquet(codesDir(dir))
      .where(col("seq") <= lit(maxSeq.toInt)) // belt over recover's prune
      .withColumn("seq", lit(0)) // collapse committed levels back to 0
      .repartition(col("cell")) // all of a cell's rows → one writer → one file
      .write.mode(SaveMode.Overwrite).partitionBy("cell", "seq")
      .parquet(graft.model.StoreSwap.tmpPath(codesDir(dir)))
    graft.model.StoreSwap.commit(spark, codesDir(dir))
  }

  /** Part-file count of the fullest cell (driver metadata only). */
  def maxFilesPerCell(spark: SparkSession, dir: String): Int = {
    val f = fs(spark)
    graft.model.StoreSwap.readablePath(spark, codesDir(dir)).map { root =>
      val cells = f.listStatus(new org.apache.hadoop.fs.Path(root))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      if (cells.isEmpty) 0
      else cells.map { c =>
        f.listStatus(c.getPath).map { s =>
          if (s.isDirectory && s.getPath.getName.startsWith("seq="))
            f.listStatus(s.getPath)
              .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
          else if (s.isFile && !s.getPath.getName.startsWith("_")) 1
          else 0
        }.sum
      }.max
    }.getOrElse(0)
  }

  /** Maintenance trigger — the serving stores' files-per-bucket policy
    * on the index's cells: true once any cell has accumulated more than
    * `maxFiles` code files (each append adds ~1 per touched cell).
    */
  def needsCompact(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerCell): Boolean =
    maxFilesPerCell(spark, dir) > maxFiles

  /** Run [[consolidate]] iff [[needsCompact]]; returns whether it ran.
    * The maintenance entry point for an append loop: call between
    * batches, never under one.
    */
  def maintain(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerCell): Boolean = {
    val due = needsCompact(spark, dir, maxFiles)
    if (due) consolidate(spark, dir)
    due
  }

  /** Search the prebuilt index: the probed cells' partitions are the
    * only ones read — deterministically. Under default session confs
    * the probed cell ids (bounded: ≤4096 by the cell cap) are pushed as
    * a static partition filter; a session that sets
    * `spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly=false`
    * (the documented serving-session setting) gets the fully
    * driver-free form instead, where the broadcast candidate join on
    * `cell` plants a dynamicpruning subquery on the partition column.
    * VectorIndexSpec pins BOTH paths' pruning. `emb` supplies raw
    * vectors for the exact rerank of the top candidates only.
    *
    * Defaults sit at the measured curve knees (nProbe 8, rerank 12 —
    * the documented stale-codebook-append stance for the indexed form);
    * both are probe/serving-side knobs with zero corpus-side cost
    * beyond the nProbe/nCells scan fraction.
    */
  def searchIvfPq(spark: SparkSession, dir: String, emb: DataFrame,
      probes: DataFrame, k: Int, nProbe: Int = 8, rerank: Int = 12,
      probeMargin: Double = 0.0): DataFrame = {
    val (coarse, books) = readCodebooks(spark, dir)
    // resolve both tables through a possibly-interrupted swap and gate
    // on the committed seq levels — an append that crashed before its
    // meta commit is invisible (the seq filter is partition pruning, so
    // uncommitted partitions also cost nothing); reads never take the
    // writer's recovery path (single-writer contract)
    val metaPath = graft.model.StoreSwap.committedPath(spark, metaDir(dir))
      .getOrElse(sys.error(s"no readable meta under ${metaDir(dir)} — index not built"))
    val maxSeq = graft.model.OneRowParquet.head(spark, metaPath).getAs[Long]("max_seq")
    val codesPath = graft.model.StoreSwap.readablePath(spark, codesDir(dir))
      .getOrElse(sys.error(s"no readable codes under ${codesDir(dir)}"))
    val codes = spark.read.parquet(codesPath)
      .where(col("seq") <= lit(maxSeq.toInt))
    VectorOps.ivfPqSearch(spark, codes, emb,
      probes, coarse, books, k, nProbe, rerank, probeMargin)
  }
}
