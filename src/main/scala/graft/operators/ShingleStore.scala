package graft.operators

import graft.functions.TextFunctions.shingleHashes
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent per-document shingle-hash signatures — the dedup-state
  * sibling of [[LexIndex]]/[[VectorIndex]], closing the one
  * recompute-per-run left in the incremental near-dedup family:
  * `routedIncrementalPairs`' own scaladoc notes "at scale a production
  * fold would persist [signatures] alongside the corpus" — the
  * incremental apply/keep-best queries re-tokenize and re-shingle the
  * EXISTING corpus every nightly run to rebuild a relation that never
  * changes. At 100 TB that is a full corpus text scan per night spent
  * recomputing known values; with the store, the nightly job reads the
  * precomputed (doc_id, hs) relation (a column-pruned parquet scan of
  * long arrays — no text, no tokenizer) and shingles ONLY the new
  * batch, which then lands in the store for the next night.
  *
  * Layout under `dir` — a [[graft.model.LevelStore]] (commit, crash
  * story, compaction and its grace window live there), without a
  * partition above `seq`: pair generation consumes the whole relation,
  * so there is no query key to partition by.
  *   - `sigs/seq=<n>/` — (doc_id, hs: array<long>, sidecar…): level n.
  *   - `stats/` — the commit row: (n_docs, shingle_n, sigs_schema) plus
  *     the level window. `sigs_schema` is the payload's data columns,
  *     read back as the fixed read schema (an empty store reads as an
  *     empty relation of that shape); the sidecar columns are the ones
  *     after (doc_id, hs).
  *
  * Signatures are computed by the SAME expression the recompute forms
  * use (`shingleHashes(text, n)`, null-signature docs dropped at
  * build), so a store-served pair stage is row-identical to the
  * recompute — `near_dedup_apply_store` shares
  * near_dedup_apply_incremental's oracle verbatim to prove it.
  * The store records its shingle width in stats; reads are
  * self-describing (no caller-supplied n to get wrong).
  *
  * Deliberately NOT persisted: minhash band signatures (r17 verdict
  * item 2 asked to measure first). Measured at sf0.1 (1.27M docs,
  * local[32], warm cache): re-deriving the 64-hash minhash array from
  * the stored `hs` via the native codegen expression costs 0.28 s
  * against 0.23 s to scan `hs` alone — the compute is ~0.05 s, ~2% of
  * the banded pair stage — while reading a persisted `sig` column
  * measures 0.15 s. Persisting would spend +64 longs/doc of store
  * growth and extra write volume on EVERY append to save ~0.1 s per
  * nightly run; the hash work is embarrassingly parallel, so the
  * ratio holds at 100 TB. The expensive thing was never banding — it
  * was re-reading TEXT, which the store already eliminates.
  */
object ShingleStore {

  /** The commit row's own fields; the payload schema is the recorded
    * `sigs_schema`.
    */
  val levels = new graft.model.LevelStore("sigs", "stats", None,
    new StructType().add("n_docs", LongType).add("shingle_n", IntegerType)
      .add("sigs_schema", StringType),
    sigsSchema, "shingle store")

  private def sigsSchema(stats: Row): StructType =
    DataType.fromJson(stats.getAs[String]("sigs_schema")).asInstanceOf[StructType]

  /** The stored relation: EVERY doc (null-signature docs — fewer tokens
    * than the shingle width — are kept as null-`hs` rows so sidecar
    * consumers see the whole corpus; [[hashes]] filters them for the
    * pair stages) plus any caller sidecar columns, computed ROW-LOCALLY
    * from the same docs pass that shingles — the keep-best consumer
    * persists its quality signal here so the nightly argmax reads no
    * text either.
    */
  private def signatures(docs: DataFrame, n: Int,
      sidecar: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    docs.select(col("doc_id") +: shingleHashes(col("text"), n).as("hs") +:
      sidecar.map { case (name, c) => c.as(name) }: _*)

  /** Write `sigs` as level `seq`: one shingle pass, one job. The level's
    * doc count is read back from the footers of the level just written
    * (exact, driver-side, synchronous); a zero-row level writes no dir,
    * and a footer-read failure abstains too, so both pay a count.
    */
  private def writeLevel(spark: SparkSession, sigs: DataFrame, dir: String,
      seq: Int): Long = {
    levels.writeLevel(sigs, dir, seq)
    graft.model.RowEst.dirRowsExact(spark, levels.dataDir(dir) + s"/seq=$seq")
      .getOrElse(sigs.count())
  }

  /** Build the store from `docs` into a dir that has never committed a
    * build (see [[graft.model.LevelStore.build]]).
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
      n: Int = 3, batchId: Long = -1L,
      sidecar: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit = {
    require(n >= 1, s"need shingle width >= 1, got $n")
    val sigs = signatures(docs, n, sidecar)
    levels.build(spark, dir, batchId) { seq =>
      Seq(writeLevel(spark, sigs, dir, seq), n, sigs.schema.json)
    }
  }

  def isBuilt(spark: SparkSession, dir: String): Boolean = levels.isBuilt(spark, dir)

  /** Append `docs`' signatures — EXACT (a signature is per-doc; nothing
    * existing changes). Shingle width comes from the store's own stats,
    * never the caller, and the batch must carry exactly the store's
    * sidecar shape.
    */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L,
      sidecar: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit =
    levels.append(spark, dir, batchId) { (prev, seq) =>
      // a parquet schema-union would silently null-fill a mismatch and a
      // later sidecar read would serve holes as data
      val stored = sigsSchema(prev).fieldNames.toSeq.drop(2)
      require(sidecar.map(_._1) == stored,
        s"sidecar mismatch on append to $dir: store carries " +
          s"[${stored.mkString(",")}], batch supplies " +
          s"[${sidecar.map(_._1).mkString(",")}]")
      val n = prev.getAs[Int]("shingle_n")
      val sigs = signatures(docs, n, sidecar)
      Seq(writeLevel(spark, sigs, dir, seq) + prev.getAs[Long]("n_docs"), n,
        prev.getAs[String]("sigs_schema"))
    }

  /** Compact the levels into one once more than `maxLevels` are live
    * ([[graft.model.LevelStore.maintain]]); returns whether it ran.
    */
  def maintain(spark: SparkSession, dir: String, maxLevels: Int = 8): Boolean =
    levels.maintain(spark, dir, maxLevels)

  /** The committed (doc_id, hs) relation of the signed docs — the scan
    * the nightly dedup reads INSTEAD of re-shingling the corpus: long
    * arrays only, no text column.
    */
  def hashes(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir)
      .where(col("hs").isNotNull) // null-sig docs carry no pair evidence
      .select(col("doc_id"), col("hs"))

  /** The full committed store relation — (doc_id, hs, sidecar…), null-
    * signature docs INCLUDED (a doc too short to shingle still has its
    * sidecar values; keep-best must score it as a singleton). Consumers
    * that touch only (doc_id, sidecar) columns never read the hash
    * arrays (parquet column pruning).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    levels.read(spark, dir)._2.drop("seq")
}
