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
  * (it is idempotent on its own intermediate states). Readers that may
  * observe a mid-swap crash resolve the current version with
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

  /** Sidecar a writer drops (via [[markCommittedEmpty]]) to record that
    * a directory holds a COMMITTED write whose result is legitimately
    * EMPTY, under a session with `_SUCCESS` markers disabled. Without
    * it the marker-less fallback in [[isComplete]] cannot tell a
    * committed empty write from the empty dir a crashed job leaves
    * behind — it reads both as incomplete, so a store whose first
    * version is genuinely empty (a filter that matched nothing, a
    * zero-row bootstrap batch) would be discarded as torn by [[commit]]
    * and silently rebuilt by every isBuilt probe (r15 ADVICE low #1).
    */
  val EmptyMarker = "_GRAFT_COMMITTED_EMPTY"

  /** Record that `dir` is a committed-but-empty write (see
    * [[EmptyMarker]]). Call ONLY after the producing write returned
    * successfully — the caller is asserting job commit the way the
    * default committer asserts it with `_SUCCESS`. Idempotent. Only
    * needed when markers are disabled AND the payload can be empty;
    * harmless (and redundant) otherwise.
    */
  def markCommittedEmpty(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark)
    f.mkdirs(new Path(dir)) // a zero-file empty write may not even have made the dir
    f.create(new Path(dir, EmptyMarker), true).close()
  }

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** True when `dir` holds a COMPLETE Spark write. Primary signal: the
    * `_SUCCESS` marker the Hadoop commit protocol drops at job commit.
    * A dir without it is usually a torn write (the job crashed
    * mid-write) and must never be promoted to serving — EXCEPT under a
    * session that disabled the marker
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`), where
    * every committed write would otherwise read as torn and the
    * bootstrap probes built on this ([[committedPath]] →
    * LexIndex/VectorIndex.isBuilt) would silently REBUILD a serving
    * index from one micro-batch. Fallback for that conf: committed
    * data present (a non-hidden child) with NO `_temporary` job
    * staging left. The fallback cannot mistake a torn write for a
    * committed one: the committer moves task files out of
    * `_temporary` and deletes it strictly BEFORE the marker step, so
    * any crash that loses data leaves `_temporary` (or an empty dir)
    * behind, and both read as incomplete here. The one state the
    * fallback cannot classify alone — a committed write whose result
    * is LEGITIMATELY empty, indistinguishable from a crashed job's
    * empty dir — is covered by the writer-dropped [[EmptyMarker]]
    * sidecar, accepted here like `_SUCCESS`.
    */
  private def isComplete(f: FileSystem, dir: Path): Boolean =
    f.exists(new Path(dir, "_SUCCESS")) || (
      // Both marker-less acceptance paths are gated on NO `_temporary`
      // staging: an EmptyMarker is dropped at (empty-)write commit the
      // way `_SUCCESS` is, but a LATER overwrite that crashed mid-job
      // leaves `_temporary` next to the stale marker — marker plus live
      // job staging is ambiguous and must read incomplete, exactly like
      // the data-present fallback below. (`_SUCCESS` keeps precedence:
      // a crashed Overwrite clears the dir — marker included — before
      // staging, so a surviving `_SUCCESS` next to `_temporary` means
      // the PREVIOUS committed version's data is still fully present,
      // which is the version a reader should resolve.)
      !f.exists(new Path(dir, "_temporary")) && (
        f.exists(new Path(dir, EmptyMarker)) || (
          f.exists(dir) && f.getFileStatus(dir).isDirectory &&
            f.listStatus(dir).exists { st =>
              val n = st.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            })))

  /** Swap `store.tmp` (a fully-written new version) into `store`,
    * recovering any interrupted previous swap first. Call with the new
    * version at [[tmpPath]]; on return `store` is the new version and
    * no sibling dirs remain. Calling with NO tmp present is recovery
    * mode: it finishes a swap that crashed after step 3 (cleans the
    * leftover `.old`) or rolls back one that crashed between steps 2
    * and 3 (restores `.old` to `store`), and is a no-op on a healthy
    * store.
    *
    * A tmp directory WITHOUT the `_SUCCESS` marker is a torn write —
    * the producing job crashed before job commit — and is DELETED, not
    * promoted: promoting it would trade the only complete version for
    * a half-written one. (Keep `mapreduce.fileoutputcommitter.marksuccessfuljobs`
    * at its default `true` for stores managed by this protocol.)
    */
  def commit(spark: SparkSession, store: String): Unit = {
    val f = fs(spark)
    val s = new Path(store)
    val t = new Path(tmpPath(store))
    val o = new Path(oldPath(store))
    val tComplete = f.exists(t) && isComplete(f, t)
    if (f.exists(t) && !tComplete) {
      // Under a markers-disabled session, an EMPTY unmarked tmp with no
      // `_temporary` staging is AMBIGUOUS: it is equally a crashed job's
      // husk and a committed zero-row write whose producer forgot
      // [[markCommittedEmpty]]. Silently discarding it here is the one
      // way this protocol can throw away a committed version, so fail
      // loud instead: the maintainer either marks it (write succeeded,
      // legitimately empty) or deletes the tmp (write crashed) — both
      // one-liners, both unambiguous. Sessions with markers ON never
      // reach this (their committed writes always carry `_SUCCESS`).
      val markersOff = !spark.sparkContext.hadoopConfiguration.getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
      val emptyHusk = markersOff && f.getFileStatus(t).isDirectory &&
        !f.exists(new Path(t, "_temporary")) &&
        !f.listStatus(t).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      if (emptyHusk) throw new IllegalStateException(
        s"$t is empty with no commit evidence under a markers-disabled " +
          "session: call StoreSwap.markCommittedEmpty after a successful " +
          "zero-row write, or delete the tmp if the producing job crashed")
      f.delete(t, true) // torn write: discard
    }
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
    * exists — the probe for "has this store ever been built".
    * Maintainers bootstrapping "empty on first batch" MUST use this
    * rather than a bare exists(): a bare check reads absence-during-swap
    * as "never existed" and silently restarts state from empty, and
    * for a version written directly (not through a tmp swap) it reads a
    * crashed job's `_temporary`-only dir as built — bricking the retry
    * behind a rebuild refusal, or routing a bootstrap fold to an append
    * that dies reading the torn table.
    * Each candidate is checked independently (an incomplete live dir
    * never hides a complete `.old`).
    */
  def committedPath(spark: SparkSession, store: String): Option[String] = {
    val f = fs(spark)
    if (isComplete(f, new Path(store))) Some(store)
    else {
      // The two probes are NON-atomic: a concurrent [[commit]] can run
      // its step-3 rename + step-4 cleanup entirely between them, making
      // both miss (false None on a store with committed history).
      // Callers that race live flips retry on None (ServingPointer
      // .current); this seam lets their spec drive the interleave
      // DETERMINISTICALLY instead of hoping a thread race hits the
      // window.
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
