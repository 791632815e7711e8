package graft.model

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe directory swap for parquet serving stores (the rebuilt
  * batch-view hand-off): FactStore.consolidate, the [[LevelStore]] commit
  * rows and the [[ServingPointer]] pointer row.
  *
  * The naive `delete(store); rename(tmp, store)` has a window where the
  * serving store is ABSENT: a crash between the two calls loses the
  * current version entirely, and a maintainer that treats "missing" as
  * "empty" (stream_cc's first-batch bootstrap) would then silently
  * restart from nothing — for a label store that means discarding every
  * prior labeling, the worst failure mode a serving maintainer can have.
  *
  * [[commit]] replaces it with a two-rename protocol over three sibling
  * paths (`store`, `store.tmp`, `store.old`):
  *
  *   1. delete leftover `store.old` (from a previously COMPLETED swap)
  *   2. rename `store` → `store.old`
  *   3. rename `store.tmp` → `store`
  *   4. delete `store.old`
  *
  * Every intermediate state is recoverable: a complete data version
  * always exists under `store` or `store.old`, and re-running
  * [[commit]] from ANY crash point finishes the interrupted swap
  * (it is idempotent on its own intermediate states). A version is
  * complete when it holds `_SUCCESS`, which its writer drops after the
  * data is in place; that is the only commit evidence accepted. Readers
  * that may observe a mid-swap crash resolve the current version with
  * [[committedPath]] — `store` if complete, else the `store.old` the
  * interrupted swap preserved. Directory renames are atomic on HDFS and
  * local filesystems (the deployments this targets); object stores
  * without atomic rename want a pointer-file scheme instead, which this
  * object isolates behind one seam. RecoverySpec kills the protocol
  * between every pair of steps and proves both recovery paths.
  */
object StoreSwap {

  def tmpPath(store: String): String = store + ".tmp"
  def oldPath(store: String): String = store + ".old"

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** True when `dir` holds a COMMITTED write: the `_SUCCESS` marker its
    * writer drops after the data is complete ([[OneRowParquet.write]]
    * for the commit rows, FactStore.consolidate for its rewrite). A dir
    * without it is a torn write and is never promoted or resolved.
    */
  private def isComplete(f: FileSystem, dir: Path): Boolean =
    f.exists(new Path(dir, "_SUCCESS"))

  /** Swap `store.tmp` (a fully-written new version) into `store`,
    * recovering any interrupted previous swap first. Call with the new
    * version at [[tmpPath]]; on return `store` is the new version and
    * no sibling dirs remain. Calling with NO tmp present is recovery
    * mode: it finishes a swap that crashed after step 3 (cleans the
    * leftover `.old`) or rolls back one that crashed between steps 2
    * and 3 (restores `.old` to `store`), and is a no-op on a healthy
    * store.
    *
    * A tmp directory WITHOUT `_SUCCESS` is a torn write — its writer
    * crashed before committing — and is DELETED, not promoted:
    * promoting it would trade the only complete version for a
    * half-written one.
    */
  def commit(spark: SparkSession, store: String): Unit = {
    val f = fs(spark)
    val s = new Path(store)
    val t = new Path(tmpPath(store))
    val o = new Path(oldPath(store))
    val tComplete = f.exists(t) && isComplete(f, t)
    if (f.exists(t) && !tComplete) f.delete(t, true) // torn write: discard
    if (tComplete) {
      if (f.exists(s)) {
        // leftover .old means the PREVIOUS swap completed steps 2-3 but
        // crashed before 4 — its version is superseded, drop it
        if (f.exists(o)) f.delete(o, true)
        require(f.rename(s, o), s"rename $s -> $o failed")
      }
      require(f.rename(t, s), s"rename $t -> $s failed")
    } else if (!f.exists(s) && f.exists(o)) {
      // no (complete) new version and the store is mid-swap absent:
      // roll the preserved .old back into place
      require(f.rename(o, s), s"rollback rename $o -> $s failed")
    }
    if (f.exists(s) && f.exists(o)) f.delete(o, true)
  }

  /** The current readable version of `store` whose write COMMITTED (the
    * `_SUCCESS` marker): the store itself, or the `.old` a mid-swap crash
    * preserved (step 2 done, step 3 not). None if no committed version
    * exists — the writer's probe for "has this store ever been built".
    * Maintainers bootstrapping "empty on first batch" MUST use this
    * rather than a bare exists(): a bare check reads absence-during-swap
    * as "never existed" and silently restarts state from empty, and
    * for a version written directly (not through a tmp swap) it reads a
    * crashed write's marker-less dir as built — bricking the retry
    * behind a rebuild refusal, or routing a bootstrap fold to an append
    * that dies reading the torn table.
    * Each candidate is checked independently (an incomplete live dir
    * never hides a complete `.old`). Readers that race a live writer
    * read through [[OneRowParquet.committed]], which retries the
    * false None described below.
    */
  def committedPath(spark: SparkSession, store: String): Option[String] = {
    val f = fs(spark)
    if (isComplete(f, new Path(store))) Some(store)
    else {
      // The two probes are NON-atomic: a concurrent [[commit]] can run
      // its step-3 rename + step-4 cleanup entirely between them, making
      // both miss (false None on a store with committed history).
      // OneRowParquet.committed retries on None; this seam lets specs
      // drive the interleave DETERMINISTICALLY instead of hoping a
      // thread race hits the window.
      interProbeHook()
      if (isComplete(f, new Path(oldPath(store)))) Some(oldPath(store))
      else None
    }
  }

  /** Test seam — called by [[committedPath]] between its `store` and
    * `store.old` probes so specs can interleave a flip's renames into
    * the exact window that produces the false-None race. No-op in
    * production.
    */
  private[graft] var interProbeHook: () => Unit = () => ()
}
