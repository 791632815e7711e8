package graft

import graft.model.{LevelStore, StoreSwap}
import graft.operators.{LexIndex, ShingleStore, VectorIndex}
import graft.streaming.{LabelStore, UpsertStore}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

/** One crash-point matrix over the five [[LevelStore]] stores (sf0.001
  * and synthetic inputs). Every case manufactures a crash state with
  * raw file ops and asserts that (a) readers serve exactly the last
  * committed store and (b) the writer's retry converges to the
  * uninterrupted store — compared both as the committed payload
  * multiset and as the store's own served read. A store whose
  * compaction collapses versions (`collapses`) is compared on its
  * served read across a compaction.
  */
class LevelStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One store under test: its input slices (4 disjoint parts), its
    * mutations, and its served read.
    */
  private case class Subject(name: String, levels: LevelStore, commit: String,
      slice: Int => DataFrame,
      build: (DataFrame, String, Long) => Unit,
      append: (DataFrame, String, Long) => Unit,
      maintain: (String, Int) => Boolean,
      served: String => DataFrame,
      collapses: Boolean = false)

  private lazy val docs = Tables.documents(spark, sf0001)
  private lazy val emb = Tables.embeddings(spark, sf0001)

  private val subjects = Seq(
    Subject("ShingleStore", ShingleStore.levels, "stats",
      i => docs.where($"doc_id" % 4 === i),
      (df, dir, b) => ShingleStore.build(spark, df, dir, batchId = b),
      (df, dir, b) => ShingleStore.append(spark, df, dir, batchId = b),
      (dir, n) => ShingleStore.maintain(spark, dir, n),
      dir => ShingleStore.hashes(spark, dir)),
    Subject("LexIndex", LexIndex.levels, "stats",
      i => docs.where($"doc_id" % 4 === i),
      (df, dir, b) => LexIndex.build(spark, df, dir, batchId = b),
      (df, dir, b) => LexIndex.append(spark, df, dir, batchId = b),
      (dir, n) => LexIndex.maintain(spark, dir, n),
      dir => LexIndex.bm25Scores(spark, dir, Seq("spark", "merge", "vector", "data"))),
    Subject("VectorIndex", VectorIndex.levels, "meta",
      i => emb.where($"vec_id" % 4 === i),
      (df, dir, b) => VectorIndex.buildIvfPq(spark, df, dir, nCells = 16, m = 8,
        ks = 16, batchId = b),
      (df, dir, b) => VectorIndex.appendIvfPq(spark, df, dir, batchId = b),
      (dir, n) => VectorIndex.maintain(spark, dir, n),
      dir => VectorIndex.searchIvfPq(spark, dir, emb.where($"vec_id" < 10),
        k = 5, nProbe = 8, rerank = 8)),
    // overlapping keys across slices, with tombstones
    Subject("UpsertStore", UpsertStore.levels, "stats",
      i => (0L until 40L).filter(k => (k + i) % 3 != 0)
        .map(k => (k, s"v$i-$k", k % 5 == i)).toDF("k", "v", "del"),
      (df, dir, b) => UpsertStore.fold(spark, dir, df, Seq("k"), b, Some("del")),
      (df, dir, b) => UpsertStore.fold(spark, dir, df, Seq("k"), b, Some("del")),
      (dir, n) => UpsertStore.maintain(spark, dir, Seq("k"), n),
      dir => UpsertStore.read(spark, dir, Seq("k")).get,
      collapses = true),
    // slice i links 4j+i to 4j+i+1: later slices merge earlier components
    Subject("LabelStore", LabelStore.levels, "stats",
      i => (0L until 25L).map(j => (4 * j + i, 4 * j + i + 1)).toDF("src", "dst"),
      (df, dir, b) => LabelStore.fold(spark, dir, df, batchId = b),
      (df, dir, b) => LabelStore.fold(spark, dir, df, batchId = b),
      (dir, n) => LabelStore.maintain(spark, dir, n),
      dir => LabelStore.read(spark, dir).get,
      collapses = true))

  /** (committed payload multiset, served answer), order-free. */
  private def state(s: Subject, dir: String): (Seq[String], Seq[String]) =
    (s.levels.read(spark, dir)._2.drop("seq").toJSON.collect().sorted.toSeq,
      s.served(dir).toJSON.collect().sorted.toSeq)

  private def copyDir(from: String, to: String): Unit =
    FileUtils.copyDirectory(new java.io.File(from), new java.io.File(to))

  private def replaceDir(from: String, to: String): Unit = {
    FileUtils.deleteDirectory(new java.io.File(to))
    copyDir(from, to)
  }

  /** A store built from slice 0 (batch 0), the commit dir snapshotted, then
    * slice 1 appended (batch 1): (dir, snapshot, state before the append).
    */
  private def builtThenAppended(s: Subject): (String, String, (Seq[String], Seq[String])) = {
    val dir = Scratch.dir("levelstore_spec")
    s.build(s.slice(0), dir, 0L)
    val before = state(s, dir)
    val snap = Scratch.dir("levelstore_snap") + "/commit"
    copyDir(s"$dir/${s.commit}", snap)
    s.append(s.slice(1), dir, 1L)
    (dir, snap, before)
  }

  /** The uninterrupted store: slices 0 and 1 under batches 0 and 1. */
  private def reference(s: Subject): (Seq[String], Seq[String]) = {
    val dir = Scratch.dir("levelstore_ref")
    s.build(s.slice(0), dir, 0L)
    s.append(s.slice(1), dir, 1L)
    state(s, dir)
  }

  test("a commit row in an older format (no min_seq) fails loudly on read and write") {
    import org.apache.spark.sql.types._
    val dir = Scratch.dir("levelstore_old")
    LexIndex.build(spark, docs.where($"doc_id" % 4 === 0), dir)
    // the stats row an index committed before the level window carried
    graft.model.OneRowParquet.write(spark, s"$dir/stats", new StructType()
      .add("n_docs", LongType).add("sum_dl", DoubleType).add("avgdl", DoubleType)
      .add("n_buckets", IntegerType).add("max_seq", LongType).add("last_batch", LongType),
      1L, 1.0, 1.0, 4, 0L, -1L)
    for (op <- Seq[() => Any](
        () => LexIndex.bm25TopK(spark, dir, Seq("spark")).collect(),
        () => LexIndex.append(spark, docs.where($"doc_id" % 4 === 1), dir))) {
      val e = intercept[RuntimeException](op())
      assert(e.getMessage.contains("older format") && e.getMessage.contains("min_seq"),
        e.getMessage)
    }
  }

  test("a vector index committed before its codes carried vectors (no dims) fails loudly on read and write") {
    import org.apache.spark.sql.types._
    val dir = Scratch.dir("levelstore_old_vec")
    VectorIndex.buildIvfPq(spark, emb.where($"vec_id" % 4 === 0), dir, nCells = 16, m = 8, ks = 16)
    // the meta row such an index committed: the level window alone
    graft.model.OneRowParquet.write(spark, s"$dir/meta", new StructType()
      .add("min_seq", LongType).add("max_seq", LongType).add("last_batch", LongType),
      0L, 0L, -1L)
    for (op <- Seq[() => Any](
        () => VectorIndex.searchIvfPq(spark, dir, emb.where($"vec_id" < 10), k = 5).collect(),
        () => VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 4 === 1), dir))) {
      val e = intercept[RuntimeException](op())
      assert(e.getMessage.contains("older format") && e.getMessage.contains("dims"),
        e.getMessage)
    }
  }

  test("a commit swap landing between committedPath's two probes re-probes: LexIndex and UpsertStore reads serve the committed store") {
    // Modeled on ServingPointerSpec's interleave: StoreSwap.interProbeHook
    // runs a reader's first probe (the commit row) AFTER the swap's step 2
    // (row renamed aside) and its second probe (row.old) AFTER steps 3+4
    // (new row promoted, .old deleted). Both probes miss although a
    // committed row existed at every instant; the read must re-probe, not
    // report an unbuilt store.
    def interleaved[A](dir: String, commit: String)(read: => A): A = {
      val row = s"$dir/$commit"
      copyDir(row, StoreSwap.tmpPath(row)) // the swap's new row, same content
      assert(new java.io.File(row).renameTo(new java.io.File(StoreSwap.oldPath(row))))
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      StoreSwap.interProbeHook = () =>
        if (fired.incrementAndGet() == 1) {
          assert(new java.io.File(StoreSwap.tmpPath(row)).renameTo(new java.io.File(row)))
          FileUtils.deleteDirectory(new java.io.File(StoreSwap.oldPath(row)))
        }
      try read
      finally {
        StoreSwap.interProbeHook = () => ()
        assert(fired.get() == 1, s"the interleave must fire exactly once, fired ${fired.get()}")
      }
    }
    val terms = Seq("spark", "merge", "vector", "data")
    val lex = subjects.find(_.name == "LexIndex").get
    val (lexDir, _, _) = builtThenAppended(lex)
    val lexWant = LexIndex.bm25TopK(spark, lexDir, terms).collect().toSeq
    val lexGot = interleaved(lexDir, lex.commit)(LexIndex.bm25TopK(spark, lexDir, terms))
    assert(lexGot.collect().toSeq == lexWant, "bm25TopK must serve the committed index")

    val up = subjects.find(_.name == "UpsertStore").get
    val (upDir, _, _) = builtThenAppended(up)
    val keyVals = Seq(Seq(1L), Seq(2L), Seq(4L), Seq(7L))
    def lookup() = UpsertStore.lookup(spark, upDir, Seq("k"), keyVals)
    val upWant = lookup().get.toJSON.collect().sorted.toSeq
    assert(upWant.nonEmpty)
    val upGot = interleaved(upDir, up.commit)(lookup())
    assert(upGot.isDefined, "lookup on a committed store must not read as never built")
    assert(upGot.get.toJSON.collect().sorted.toSeq == upWant)
    // a dir that never committed reads None after ONE probe pass, no retry
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    StoreSwap.interProbeHook = () => probes.incrementAndGet()
    try assert(UpsertStore.lookup(spark, Scratch.dir("levelstore_virgin"), Seq("k"), keyVals).isEmpty)
    finally StoreSwap.interProbeHook = () => ()
    assert(probes.get() == 1, s"a never-built store must not be re-probed: ${probes.get()} passes")
  }

  for (s <- subjects) {
    test(s"${s.name}: kill after the level write: readers serve the old store, the retry converges") {
      val (dir, snap, before) = builtThenAppended(s)
      replaceDir(snap, s"$dir/${s.commit}") // the commit swap never ran
      assert(state(s, dir) == before, "an uncommitted level must be invisible")
      s.append(s.slice(1), dir, 1L)
      assert(state(s, dir) == reference(s), "the retry must land the batch exactly once")
    }

    test(s"${s.name}: kill mid-write of the commit tmp: readers serve the old store, the retry converges") {
      val (dir, snap, before) = builtThenAppended(s)
      val commit = s"$dir/${s.commit}"
      copyDir(commit, StoreSwap.tmpPath(commit))
      OneRowCrash.midFile(StoreSwap.tmpPath(commit))
      replaceDir(snap, commit)
      assert(state(s, dir) == before, "a torn commit row must leave readers on the old store")
      s.append(s.slice(1), dir, 1L)
      assert(state(s, dir) == reference(s))
      assert(!new java.io.File(StoreSwap.tmpPath(commit)).exists(), "the torn tmp is discarded")
    }

    test(s"${s.name}: kill mid-swap: readers serve the old store, the next entry finishes the swap") {
      val (dir, snap, before) = builtThenAppended(s)
      val commit = s"$dir/${s.commit}"
      // swap step 2 done, step 3 not: the new row at tmp, the old at .old
      copyDir(commit, StoreSwap.tmpPath(commit))
      FileUtils.deleteDirectory(new java.io.File(commit))
      copyDir(snap, StoreSwap.oldPath(commit))
      assert(s.levels.isBuilt(spark, dir))
      assert(state(s, dir) == before, "readers resolve the preserved .old row")
      // the retried batch finds its commit finished: a replay, a no-op
      s.append(s.slice(1), dir, 1L)
      assert(state(s, dir) == reference(s))
      assert(!new java.io.File(StoreSwap.oldPath(commit)).exists())
    }

    test(s"${s.name}: kill mid-compaction: readers serve the old levels, the retry re-compacts") {
      val (dir, _, _) = builtThenAppended(s)
      s.append(s.slice(2), dir, 2L)
      val before = state(s, dir)
      val snap = Scratch.dir("levelstore_snap") + "/commit"
      val commit = s"$dir/${s.commit}"
      copyDir(commit, snap)
      assert(s.maintain(dir, 1))
      replaceDir(snap, commit) // the compacted level landed, its commit did not
      assert(state(s, dir) == before, "an uncommitted compaction must be invisible")
      assert(s.maintain(dir, 1), "the retry compacts again")
      if (s.collapses) assert(state(s, dir)._2 == before._2, "compaction must not change the read")
      else assert(state(s, dir) == before, "compaction must not change the store")
      val row = s.levels.committed(spark, dir).get
      assert(row.getAs[Long]("min_seq") == 3L && row.getAs[Long]("max_seq") == 3L,
        s"one live level after the compaction: $row")
      assert(!s.maintain(dir, 1), "one live level: not due")
      s.append(s.slice(3), dir, 3L)
      assert(s.levels.committed(spark, dir).get.getAs[Long]("max_seq") == 4L)
    }

    test(s"${s.name}: a replayed batchId is a no-op, a lower one throws") {
      val (dir, _, _) = builtThenAppended(s)
      val committed = state(s, dir)
      val row = s.levels.committed(spark, dir).get
      s.append(s.slice(1), dir, 1L)
      assert(state(s, dir) == committed, "replaying the committed batch changes nothing")
      assert(s.levels.committed(spark, dir).get == row)
      val e = intercept[IllegalStateException](s.append(s.slice(2), dir, 0L))
      assert(e.getMessage.contains("out-of-order"), e.getMessage)
      assert(state(s, dir) == committed, "a refused append must not mutate the store")
    }

    test(s"${s.name}: a read planned before maintain and collected after it commits sees the old levels") {
      val (dir, _, _) = builtThenAppended(s)
      s.append(s.slice(2), dir, 2L)
      val want = state(s, dir)._2
      val planned = s.served(dir)
      assert(s.maintain(dir, 1))
      assert(planned.toJSON.collect().sorted.toSeq == want,
        "the retired levels must outlive the compaction (grace window)")
      assert(state(s, dir)._2 == want)
    }
  }
}
