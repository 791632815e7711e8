package graft.model

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned serving-pointer indirection for rebuild-while-serving —
  * the shard-version swap of the reference's serving layer
  * (ElephantDB's domain-version flip behind BatchWorkflow.java:348-365)
  * re-created over parquet stores: a store ROOT holds immutable version
  * directories (`v0`, `v1`, …) plus a one-row `pointer` sidecar naming
  * the version currently served. Readers resolve through the pointer;
  * a rebuild (e.g. an index retrain with NEW quantizer params — the
  * thing [[graft.operators.VectorIndex.buildIvfPq]] and
  * [[graft.operators.LexIndex.build]] refuse to do in place) goes to a
  * FRESH version dir while the old version keeps serving, and the
  * pointer flip is the single atomic commit point.
  *
  * The flip is the crash-safe [[StoreSwap]] two-rename on the pointer
  * sidecar, so the whole-index swap inherits the kill-tested protocol:
  * a complete committed pointer exists at every intermediate state, a
  * reader never resolves to a torn or half-built version, and a crash
  * anywhere before the flip lands leaves readers serving EXACTLY the
  * old version ([[ServingPointerSpec]] kill-tests both flip crash
  * points: build-done-flip-never-started, and mid-pointer-swap).
  *
  * Retry convergence: [[stage]] targets `current + 1` and DELETES any
  * leftover at that path first — an unflipped version dir is
  * unreferenced by definition (readers only ever follow the pointer),
  * so a rebuild attempt that crashed mid-build or pre-flip is simply
  * rebuilt. Superseded versions are kept after a flip (instant
  * rollback = flip back; also the old dir may still be under read by a
  * long query that resolved before the flip); [[dropSuperseded]] is
  * the cleanup — its default one-version grace ledger makes it safe to
  * automate mid-serving (only dirs older than the PREVIOUS version are
  * dropped), `grace = 0` is the between-serving-windows offline form.
  *
  * Single-WRITER contract as everywhere in this store family: one
  * maintainer owns stage/flip/drop; readers are lock-free.
  */
object ServingPointer {

  def pointerDir(root: String): String = root + "/pointer"
  def versionDir(root: String, v: Long): String = root + s"/v$v"

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** The committed serving version, resolved through a possibly-torn
    * pointer swap (a mid-flip crash leaves the old pointer readable at
    * `pointer` or `pointer.old`). None iff no flip has ever committed.
    * Lock-free: [[OneRowParquet.committed]] retries a read that
    * straddles a concurrent flip. Version DIRS need no such guard —
    * they are immutable once staged.
    */
  def current(spark: SparkSession, root: String): Option[Long] =
    OneRowParquet.committed(spark, pointerDir(root)).map(_.getAs[Long]("version"))

  /** The directory readers should serve from — the current version's
    * dir. None iff no flip has ever committed.
    */
  def resolve(spark: SparkSession, root: String): Option[String] =
    current(spark, root).map(versionDir(root, _))

  /** Build the NEXT version: allocates `v(current+1)` (v0 on a virgin
    * root), deletes any unreferenced leftover there (a predecessor
    * attempt that crashed mid-build or built-but-never-flipped — safe:
    * readers only follow the pointer), runs `build` into it, and
    * returns the staged version for [[flip]]. The pointer is NOT
    * moved: the old version serves throughout, and a crash anywhere in
    * here changes nothing a reader can see.
    */
  def stage(spark: SparkSession, root: String)(build: String => Unit): Long = {
    val v = current(spark, root).map(_ + 1).getOrElse(0L)
    val dir = versionDir(root, v)
    fs(spark).delete(new Path(dir), true) // unreferenced predecessor attempt
    build(dir)
    v
  }

  /** Atomically flip the pointer to `version` (a dir [[stage]] built).
    * One-row sidecar written on the driver
    * ([[OneRowParquet.write]], no Spark job) to the pointer's tmp path,
    * then the [[StoreSwap.commit]] two-rename — THE commit point: readers
    * resolve the old version until this lands, the new one after, and
    * never anything in between. Re-running after a mid-flip crash
    * converges (the tmp overwrite + commit are idempotent).
    */
  def flip(spark: SparkSession, root: String, version: Long): Unit = {
    require(fs(spark).exists(new Path(versionDir(root, version))),
      s"cannot flip $root to absent version dir v$version")
    OneRowParquet.write(spark, StoreSwap.tmpPath(pointerDir(root)),
      PointerSchema, version)
    StoreSwap.commit(spark, pointerDir(root))
  }

  private val PointerSchema =
    new org.apache.spark.sql.types.StructType().add("version", "long")

  /** Delete superseded version dirs, keeping the newest `grace` of them
    * as the live-reader ledger: a reader that resolved BEFORE the last
    * flip may still be scanning `v(cur-1)`, so the default `grace = 1`
    * drops only versions older than the previous one — safe to automate
    * inside the maintenance loop, no serving-window coordination needed
    * (a reader would have to survive TWO full flips mid-scan to lose
    * its dir). `grace = 0` is the offline form (between serving
    * windows, drop everything below the pointer); higher values widen
    * the ledger for longer-running readers. Returns the versions
    * dropped.
    */
  def dropSuperseded(spark: SparkSession, root: String,
      grace: Int = 1): Seq[Long] = {
    require(grace >= 0, s"grace must be >= 0, got $grace")
    val cur = current(spark, root).getOrElse(return Seq.empty)
    val f = fs(spark)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Seq.empty
    f.listStatus(rootPath).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v"))
        scala.util.Try(n.stripPrefix("v").toLong).toOption
          .filter(_ < cur - grace)
          .map { v => f.delete(st.getPath, true); v }
      else None
    }.sorted
  }
}
