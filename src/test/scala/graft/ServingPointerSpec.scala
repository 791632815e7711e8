package graft

import graft.model.{ServingPointer, StoreSwap}
import graft.operators.{LexIndex, VectorIndex, VectorOps}
import org.apache.spark.sql.functions._

/** The serving-pointer flip behind `index_rebuild_swap` — rebuild a
  * serving index into a fresh version dir while the old version keeps
  * serving, with the one-row pointer sidecar's StoreSwap two-rename as
  * the single commit point (the ElephantDB shard-version swap,
  * reference BatchWorkflow.java:348-365). Kill-tested at both flip
  * crash points: build-complete-but-flip-never-ran, and mid-pointer-
  * swap; plus the retrain-equivalence contract on the vector side.
  */
class ServingPointerSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_ptr_spec").toString + "/root"

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  private val terms = Seq("spark", "merge", "vector")

  private def topk(dir: String): Seq[Seq[Any]] =
    LexIndex.bm25TopK(spark, dir, terms, k = 10).collect().map(_.toSeq).toSeq

  test("lifecycle: stage v0 -> flip -> stage v1 (different params) serves v0 until the flip, v1 after") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sf0001)
    assert(ServingPointer.resolve(spark, root).isEmpty, "virgin root resolves to nothing")
    val v0 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 4))
    assert(v0 == 0L)
    assert(ServingPointer.resolve(spark, root).isEmpty,
      "staging must not move the pointer — nothing committed yet")
    ServingPointer.flip(spark, root, v0)
    val d0 = ServingPointer.resolve(spark, root).get
    assert(d0 == ServingPointer.versionDir(root, 0))
    val before = topk(d0)
    // rebuild under a DIFFERENT modulus into a fresh dir; v0 serves on
    val v1 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 32))
    assert(v1 == 1L)
    assert(ServingPointer.resolve(spark, root).get == d0,
      "old version must serve until the flip commits")
    assert(topk(ServingPointer.resolve(spark, root).get) == before,
      "pre-flip reads are byte-identical to the pre-rebuild answer")
    ServingPointer.flip(spark, root, v1)
    val d1 = ServingPointer.resolve(spark, root).get
    assert(d1 == ServingPointer.versionDir(root, 1))
    // same corpus, modulus only routes the pruned scan: same answer
    assert(topk(d1) == before, "BM25 is bucket-modulus-invariant")
  }

  test("kill point 1 — build complete, flip never ran: old serves; retry stage deletes the orphan and converges") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sf0001)
    val v0 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 4))
    ServingPointer.flip(spark, root, v0)
    val before = topk(ServingPointer.resolve(spark, root).get)
    // crash: v1 fully built (even COMMITTED — stats lands) but the flip
    // never runs. Readers must be unaffected.
    val vOrphan = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 32))
    assert(vOrphan == 1L)
    assert(ServingPointer.resolve(spark, root).get == ServingPointer.versionDir(root, 0))
    assert(topk(ServingPointer.resolve(spark, root).get) == before)
    // retry of the whole rebuild: stage targets v1 again, DELETES the
    // committed-but-unreferenced orphan (LexIndex.build would refuse a
    // dir with a committed stats row — the delete is what makes the
    // retry converge instead of bricking), rebuilds, flips
    val vRetry = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 32))
    assert(vRetry == 1L, "retry re-targets the same unreferenced version")
    ServingPointer.flip(spark, root, vRetry)
    assert(ServingPointer.resolve(spark, root).get == ServingPointer.versionDir(root, 1))
    assert(topk(ServingPointer.resolve(spark, root).get) == before)
  }

  test("kill point 2 — mid-pointer-swap crashes: reader never sees a torn pointer, retry converges") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sf0001)
    val v0 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 4))
    ServingPointer.flip(spark, root, v0)
    val v1 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 32))
    val ptr = ServingPointer.pointerDir(root)

    // crash state A: new pointer row written to tmp, commit never ran
    Seq(v1).toDF("version").repartition(1)
      .write.mode("overwrite").parquet(StoreSwap.tmpPath(ptr))
    assert(ServingPointer.current(spark, root).contains(0L),
      "uncommitted tmp pointer is invisible — still serving v0")
    // crash state B: StoreSwap died between its two renames — pointer
    // renamed to .old, tmp not yet promoted (pointer dir ABSENT)
    assert(hfs.rename(hp(ptr), hp(StoreSwap.oldPath(ptr))))
    assert(ServingPointer.current(spark, root).contains(0L),
      "mid-swap absence resolves through .old — still serving v0")
    assert(topk(ServingPointer.resolve(spark, root).get).nonEmpty)
    // retry: re-running the flip finishes the interrupted swap
    ServingPointer.flip(spark, root, v1)
    assert(ServingPointer.current(spark, root).contains(1L))
    assert(!hfs.exists(hp(StoreSwap.oldPath(ptr))), "swap leftovers cleaned")
  }

  test("vector quantizer refresh across the flip equals a direct build with the new params") {
    val emb = Tables.embeddings(spark, sf0001)
    val root = freshRoot()
    val v0 = ServingPointer.stage(spark, root)(
      VectorIndex.buildIvfPq(spark, emb, _, nCells = 8, m = 8, ks = 16))
    ServingPointer.flip(spark, root, v0)
    val v1 = ServingPointer.stage(spark, root)(
      VectorIndex.buildIvfPq(spark, emb, _, nCells = 16, m = 16, ks = 16))
    ServingPointer.flip(spark, root, v1)
    val served = VectorIndex.searchIvfPq(spark,
        ServingPointer.resolve(spark, root).get,
        probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 12)
      .collect().map(_.toSeq).toSeq
    val directDir = freshRoot()
    VectorIndex.buildIvfPq(spark, emb, directDir, nCells = 16, m = 16, ks = 16)
    val direct = VectorIndex.searchIvfPq(spark, directDir,
        probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 12)
      .collect().map(_.toSeq).toSeq
    assert(served == direct,
      "post-flip serving is exactly the fresh-params index — same train input, same seeds")
  }

  test("LIVE readers racing repeated flips always resolve a complete version (never torn, never absent)") {
    // the raw-FS kill-tests above cover every manufactured crash state;
    // this one runs a real reader LOOP concurrently with real flips —
    // resolve → read → compare — so the actual rename windows (pointer
    // renamed aside, tmp not yet promoted) are hit live. The MAINTAINER
    // also runs its automated cleanup after every flip
    // (dropSuperseded's default one-version grace ledger), so the test
    // drives the full production loop: a reader that resolved pre-flip
    // finishes its scan from the in-grace previous dir; the corpus is
    // identical across versions and BM25 is modulus-invariant, so every
    // read must return byte-identical answers no matter which side of
    // any flip or cleanup it lands on.
    val root = freshRoot()
    val docs = Tables.documents(spark, sf0001).limit(200).localCheckpoint()
    val v0 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 4))
    ServingPointer.flip(spark, root, v0)
    val expected = topk(ServingPointer.resolve(spark, root).get)
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val d = ServingPointer.resolve(spark, root)
            .getOrElse(sys.error("resolved to NOTHING mid-flip"))
          if (topk(d) != expected) failures.add(s"divergent read from $d")
          reads.incrementAndGet()
        } catch { case e: Throwable => failures.add(e.toString); stop = true }
      }
    }, "graft-ptr-race-reader")
    reader.start()
    val dropped = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      (1 to 3).foreach { i =>
        val v = ServingPointer.stage(spark, root)(
          LexIndex.build(spark, docs, _, nBuckets = if (i % 2 == 0) 4 else 16))
        ServingPointer.flip(spark, root, v)
        // the automated maintenance call, mid-serving, readers live:
        // the grace ledger may only drop dirs older than the PREVIOUS
        // version — never one a just-pre-flip reader could be scanning
        val d = ServingPointer.dropSuperseded(spark, root)
        assert(d.forall(_ < v - 1), s"grace ledger violated: dropped $d at v$v")
        dropped ++= d
      }
    } finally { stop = true; reader.join(60000) }
    assert(failures.isEmpty, s"racing reader failed: ${failures.peek()}")
    assert(reads.get() > 0, "the reader loop must actually have read during the flips")
    assert(ServingPointer.current(spark, root).contains(3L))
    // across 3 flips the ledger converges: v0 and v1 aged out, v2 (the
    // grace window) and v3 (serving) remain on disk
    assert(dropped.sorted == Seq(0L, 1L), s"expected v0+v1 aged out, got $dropped")
    assert(hfs.exists(hp(ServingPointer.versionDir(root, 2))), "in-grace dir must remain")
    assert(hfs.exists(hp(ServingPointer.versionDir(root, 3))), "serving dir must remain")
  }

  test("DETERMINISTIC interleave: a flip's rename+cleanup landing between committedPath's two probes re-probes, never a false None") {
    // The racing-reader test above hits the rename windows by luck of
    // scheduling; this one DRIVES the exact false-None interleave through
    // StoreSwap.interProbeHook: the reader's first probe (pointer) runs
    // AFTER flip step 2 (pointer renamed aside) and its second probe
    // (pointer.old) runs AFTER steps 3+4 (new pointer promoted, .old
    // deleted) — both probes miss even though a complete committed
    // pointer existed at every instant. Without the bounded None-retry,
    // current() would report "never committed" on a store with committed
    // history.
    val root = freshRoot()
    val docs = Tables.documents(spark, sf0001).limit(50)
    val v0 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 4))
    ServingPointer.flip(spark, root, v0)
    val v1 = ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 8))
    val ptr = ServingPointer.pointerDir(root)
    // the flip, driven by hand so its steps interleave with the probes:
    // pointer row staged to tmp, step 2 (pointer -> .old) already run
    Seq(v1).toDF("version").repartition(1)
      .write.mode("overwrite").parquet(StoreSwap.tmpPath(ptr))
    assert(hfs.rename(hp(ptr), hp(StoreSwap.oldPath(ptr))))
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    StoreSwap.interProbeHook = () => {
      if (fired.incrementAndGet() == 1) {
        // between the two probes the flip FINISHES: step 3 promotes the
        // new pointer, step 4 cleans up — the second probe misses too
        assert(hfs.rename(hp(StoreSwap.tmpPath(ptr)), hp(ptr)))
        hfs.delete(hp(StoreSwap.oldPath(ptr)), true)
      }
    }
    try {
      assert(ServingPointer.current(spark, root).contains(1L),
        "the None-retry must converge on the committed pointer, not report a virgin store")
    } finally StoreSwap.interProbeHook = () => ()
    assert(fired.get() == 1,
      s"the interleave must have fired exactly once (first pass missed both paths, " +
        s"retry's first probe hit) — fired ${fired.get()}")
  }

  test("dropSuperseded's grace ledger keeps the previous version by default; grace=0 is the offline form") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sf0001).limit(50)
    (0 to 1).foreach { i =>
      ServingPointer.flip(spark, root,
        ServingPointer.stage(spark, root)(
          LexIndex.build(spark, docs, _, nBuckets = if (i == 0) 4 else 8)))
    }
    // cur=1: the default grace window (1) holds v0 — a reader that
    // resolved before the LAST flip may still be scanning it, so the
    // automated-maintenance form must not touch it
    assert(ServingPointer.dropSuperseded(spark, root) == Seq.empty)
    assert(hfs.exists(hp(ServingPointer.versionDir(root, 0))),
      "previous version survives the default grace ledger")
    // a third flip moves v0 out of the grace window: dropped, v1 kept
    ServingPointer.flip(spark, root,
      ServingPointer.stage(spark, root)(LexIndex.build(spark, docs, _, nBuckets = 4)))
    assert(ServingPointer.dropSuperseded(spark, root) == Seq(0L))
    assert(!hfs.exists(hp(ServingPointer.versionDir(root, 0))))
    assert(hfs.exists(hp(ServingPointer.versionDir(root, 1))),
      "the in-grace previous version is untouched")
    // offline form: between serving windows grace=0 drops everything
    // below the pointer
    assert(ServingPointer.dropSuperseded(spark, root, grace = 0) == Seq(1L))
    assert(!hfs.exists(hp(ServingPointer.versionDir(root, 1))))
    assert(hfs.exists(hp(ServingPointer.versionDir(root, 2))), "serving version untouched")
  }
}
