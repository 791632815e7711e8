package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Layout under `dir` — a [[graft.model.LevelStore]] partitioned by
  * cell (commit, crash story, compaction, its grace window and the
  * old-format stance live there):
  *   - `codes/cell=<k>/seq=<n>/` — (c, codes, embedding), level n: the
  *     PQ codes and, beside them, the row's raw embedding as appended
  *     (not the unit vector), so a search's exact rerank reads the
  *     probed cells only and never the corpus. A row costs m + 4·dims
  *     bytes before compression instead of m;
  *   - `codebooks/` — (kind, sub, idx, vec), written once by the build;
  *   - `meta/` — the commit row: `dims` and the level window. An index
  *     written before the codes carried their vectors has no `dims` and
  *     fails loudly on every entry (rebuild it into a fresh dir).
  *
  * Search reads the pruned codes table and runs the same
  * [[VectorOps.ivfPqSearch]] the in-query `ann_ivfpq` form uses — one
  * code path, so the prebuilt and in-query answers agree exactly
  * (VectorIndexSpec pins both that equality and the pruned scan shape).
  */
object VectorIndex {

  val levels = new graft.model.LevelStore("codes", "meta", Some("cell"),
    new StructType().add("dims", IntegerType),
    _ => new StructType().add("c", LongType).add("codes", BinaryType)
      .add("embedding", ArrayType(FloatType)),
    "vector index")

  private def booksDir(dir: String) = dir + "/codebooks"

  /** Build the index at `dir` — a dir that has never committed a build
    * ([[graft.model.LevelStore.build]]; retrain-and-replace goes to a
    * fresh dir and flips the serving pointer): trains on `emb` (bounded
    * by `maxTrainRows`), writes cell-partitioned codes and the codebooks,
    * then commits. Shapes auto-size from the corpus like the in-query
    * form.
    *
    * `localCoarseTrain = true` trains the coarse quantizer with the
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
    levels.build(spark, dir, batchId) { seq =>
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
      val assigned = VectorOps.ivfPqAssign(unitEmb, centroidArr)
      val books = VectorOps.trainPqCodebooks(
        assigned.select(col("residual").as("embedding")), mSub, kCent, dims,
        maxTrainRows, n)
      levels.writeLevel(VectorOps.ivfPqEncode(assigned, books), dir, seq)
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
      Seq(dims)
    }
  }

  def isBuilt(spark: SparkSession, dir: String): Boolean = levels.isBuilt(spark, dir)

  /** (coarse centroids, PQ codebooks) read back from `dir` — float-exact,
    * so encoding with them is bit-identical to the build pass.
    *
    * The codebooks table is a broadcast-sized side table (cells + m·ks
    * rows, one part file) that every search and append resolves, so it
    * is read with the parquet-hadoop reader on the driver — the
    * [[graft.model.OneRowParquet]] pattern extended to the one
    * remaining per-read metadata JOB on the vector serving path (a
    * Spark collect costs ~60-150 ms of fixed action overhead per read).
    * Rows are flat (string, int, int, array<float>) — `vec` the
    * standard 3-level LIST of FLOAT. A missing table, a null or any
    * other shape throws.
    */
  def readCodebooks(spark: SparkSession, dir: String): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(booksDir(dir))
    val rows = scala.collection.mutable.ArrayBuffer[(String, Int, Int, Array[Float])]()
    graft.model.OneRowParquet.dataFiles(p.getFileSystem(conf), p).foreach { file =>
      graft.model.OneRowParquet.withGroups(conf, file) { reader =>
        var g = reader.read()
        while (g != null) {
          val list = g.getGroup("vec", 0) // LIST wrapper group
          // 3-level list: repeated group element wrapper
          val vec = Array.tabulate(list.getFieldRepetitionCount(0))(
            i => list.getGroup(0, i).getFloat(0, 0))
          rows += ((g.getString("kind", 0), g.getInteger("sub", 0), g.getInteger("idx", 0), vec))
          g = reader.read()
        }
      }
    }
    val coarse = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4).toArray
    val pq = rows.filter(_._1 == "pq").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, cents) => cents.sortBy(_._3).map(_._4).toArray }.toArray
    require(coarse.nonEmpty && pq.nonEmpty, s"no codebooks at $dir")
    (coarse, pq)
  }

  /** Append `newEmb` encoded with the SAVED codebooks as one level
    * ([[graft.model.LevelStore.append]]): only the new rows are written,
    * one file per touched cell; existing files and codebooks are
    * untouched.
    *
    * Append-only semantics otherwise, like `FactStore.ingest` (and the
    * reference's Pail.absorb): appending an id in two DIFFERENT batches
    * stores it twice, and both rows can then surface as candidates.
    * Dedup BEFORE appending — the `dedup_incremental` path is the
    * intended upstream — rather than paying a (p, c) distinct inside
    * every search.
    */
  def appendIvfPq(spark: SparkSession, newEmb: DataFrame, dir: String,
      batchId: Long = -1L): Unit =
    levels.append(spark, dir, batchId) { (prev, seq) =>
      val (coarse, books) = readCodebooks(spark, dir)
      val unitEmb = VectorOps.withUnit(newEmb, "embedding", "unit")
      levels.writeLevel(
        VectorOps.ivfPqEncode(VectorOps.ivfPqAssign(unitEmb, coarse), books), dir, seq)
      Seq(prev.getAs[Int]("dims"))
    }

  /** Compact the levels into one once more than `maxLevels` are live
    * ([[graft.model.LevelStore.maintain]]); returns whether it ran. A
    * level adds at most one file per cell, so a cell's live files
    * never outnumber the live levels.
    */
  def maintain(spark: SparkSession, dir: String, maxLevels: Int = 16): Boolean =
    levels.maintain(spark, dir, maxLevels)

  /** Search the prebuilt index: the probed cells' partitions are the
    * only ones read — deterministically. Under default session confs
    * the probed cell ids (bounded: ≤4096 by the cell cap) are pushed as
    * a static partition filter; a session that sets
    * `spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly=false`
    * (the documented serving-session setting) gets the fully
    * driver-free form instead, where the broadcast candidate join on
    * `cell` plants a dynamicpruning subquery on the partition column.
    * VectorIndexSpec pins BOTH paths' pruning.
    *
    * The exact rerank of the top candidates uses the vectors as they
    * were appended, read from the probed cells' rows: an id appended
    * twice is two candidates with their own vectors. `probes` supplies
    * only the query vectors (vec_id, embedding); a probe need not be
    * indexed, and an indexed probe never returns itself.
    *
    * Defaults sit at the measured curve knees (nProbe 8, rerank 12 —
    * the documented stale-codebook-append stance for the indexed form);
    * both are probe/serving-side knobs with zero corpus-side cost
    * beyond the nProbe/nCells scan fraction.
    */
  def searchIvfPq(spark: SparkSession, dir: String, probes: DataFrame, k: Int,
      nProbe: Int = 8, rerank: Int = 12, probeMargin: Double = 0.0): DataFrame = {
    val (coarse, books) = readCodebooks(spark, dir)
    val (_, codes) = levels.read(spark, dir)
    VectorOps.ivfPqSearch(spark, codes, probes, coarse, books, k, nProbe, rerank,
      probeMargin)
  }

  /** The five-argument form for existing callers: `emb` is ignored, the
    * rerank reads the indexed vectors.
    */
  @deprecated("the rerank reads the indexed vectors; drop `emb`", "0.1.0")
  def searchIvfPq(spark: SparkSession, dir: String, emb: DataFrame,
      probes: DataFrame, k: Int): DataFrame = searchIvfPq(spark, dir, probes, k)
}
