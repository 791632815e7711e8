package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared recipe (graft.Sessions) so benched plans == verified plans;
    // conf rationale lives there
    val spark = Sessions.base(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JVM/codegen/parquet paths so startup cost isn't attributed
    // to whichever query happens to run first: a scan+agg shape and a
    // nested-struct parquet write shape (the ingest queries' hot path).
    val warmDir = graft.Scratch.dir("graft_warm")
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      // cover the whole ingest-query hot path: localCheckpoint (RDD cache
      // machinery), the guarded partitioned write, and the pruned re-read
      val w = graft.model.FactStore.eventsAsFacts(spark, sfDir)
        .limit(100).localCheckpoint()
      graft.model.FactStore.ingest(w, s"$warmDir/m", 1)
      w.unpersist()
      graft.model.FactStore
        .scanKind(spark, s"$warmDir/m", graft.model.FactKind.PageView).count()
      // the iterative-graph machinery (localCheckpoint loop, typed CC
      // codegen) is a one-time cost; without this, sorted order bills
      // ~3-5 s of class-loading to batch_workflow (the first query
      // through that path), which a 4-run probe shows is not its cost
      locally {
        import org.apache.spark.sql.functions.col
        val e = spark.range(4).select(col("id").as("src"), (col("id") + 1).as("dst"))
        graft.operators.GraphOps.connectedComponents(e).count()
      }
      // MLlib class loading (KMeans trainer + linalg) is a one-time cost
      // of the JVM, not of the IVF query that happens to run first
      val kmFeat = spark.range(10).selectExpr(
        "cast(id as double) f0", "cast(id % 3 as double) f1")
      val asVec = org.apache.spark.ml.functions.array_to_vector(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.col("f0"),
          org.apache.spark.sql.functions.col("f1")))
      new org.apache.spark.ml.clustering.KMeans().setK(2).setSeed(1).setMaxIter(1)
        .fit(kmFeat.select(asVec.as("features")))
    } catch {
      case e: Throwable => System.err.println(s"[bench] batch warm-up failed: $e")
    }
    // ...and the Structured Streaming machinery (query planner, state
    // store, memory sink) on a one-file micro-stream, so the one-time
    // class-loading/codegen cost isn't billed to the first stream query.
    // Stage rows from events (the one table every layout has — the batch
    // warm-up above already requires lineitem); a warm-up failure must
    // not abort the bench before a single query is timed.
    try {
      Tables.eventsRaw(spark, sfDir).limit(5)
        .write.mode("overwrite").parquet(s"$warmDir/s")
      val wq = spark.readStream
        .schema(spark.read.parquet(s"$warmDir/s").schema).parquet(s"$warmDir/s")
        .groupBy().count()
        .writeStream.format("memory").queryName("graft_warm_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq.awaitTermination()
    } catch {
      case e: Throwable => System.err.println(s"[bench] stream warm-up failed: $e")
    }
    // HOST-SPEED CANARY (r15: the box slowed 1.78x mid-round with zero
    // code change, and proving it took a checkout + 20-minute old-binary
    // A/B). Fixed-work probes timed per run and emitted in the final
    // JSON line make the next shift self-evident from the artifact
    // itself — see graft.Canary for the two-band rationale.
    val canaryDir = new java.io.File(warmDir, "canary")
    val (canaryCpu, canaryFs, canarySpill, canaryState) =
      Canary.probe(canaryDir)
    System.err.println(
      f"[bench] host canary: cpu=$canaryCpu%.3f s fs=$canaryFs%.3f s spill=$canarySpill%.3f s state=$canaryState%.3f s")
    var errors = 0
    // Sorted by name: Map iteration order reshuffles whenever a query is
    // added, which changes which query pays each warm-cache/GC transition
    // and makes cross-round per-query comparisons noisy. A fixed order
    // keeps timing attribution stable across rounds.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Single-run per-query times in this sandbox carry >2x environmental
    // noise (page cache, GC, machine load — r6 vs r7 swung 3-5x both ways
    // on identical binaries). Medians over N>=3 back-to-back reps are the
    // smallest unit that supports per-query cross-round comparison.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1).getOrElse(3)
    System.err.println(
      s"[bench] reps=$reps queries=${ordered.size} sf=$sfDir")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // localCheckpoint blocks (CC loops, staged ingests) are freed by the
    // ContextCleaner only after a GC notices the RDD is unreachable; with
    // a large heap, GC never runs on its own, dead blocks pile up in the
    // block manager, and queries late in the suite pay for state leaked by
    // earlier ones (the r7 mid-suite dedup-family "regression"). A forced
    // GC between queries keeps each measurement starting from a clean
    // block manager. Between REPS of one query no GC is needed: the
    // leak only hurts once it accumulates across many queries (measured:
    // cc_union, the leakiest query, is flat across 6 back-to-back reps
    // standalone — 4.35-4.5 s; see BASELINE.md probe A).
    // (median, min) per query; -1 marks a failure so a fast crash can't
    // masquerade as a speedup; failures don't contribute to the total
    // Per-query state-band pulse (r17 verdict top item): the host's slow
    // windows are EPISODIC (sub-hour) and hit the stream/state cluster
    // 3-5× while every start-of-run canary reads fast — three rounds of
    // official artifacts carried unexplained tail readings because the
    // probe ran at the wrong time. A ~30 ms fsync-storm pulse timed
    // IMMEDIATELY BEFORE each query puts the attribution in the artifact
    // itself: an inflated query whose adjacent pulse also inflated is
    // host band, not code. ~7 s total overhead on a 219-query suite.
    val statePulses = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // Per-query DEVICE attribution (r18): the episodic band is device
    // write contention DURING the work — probes on their own schedule
    // (even per-query pulses) read fast because write-back drains in the
    // inter-query GC pause. /proc/diskstats deltas around each query's
    // reps record the device's actual behavior over exactly the query's
    // wall window: busy fraction, mean write await, mean flush (fsync)
    // await. An inflated query whose flush/write await also inflated is
    // host band, not code.
    val diskSeries =
      scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double)]()
    val results = ordered.map { case (name, fn) =>
      System.gc(); Thread.sleep(200)
      statePulses += name -> Canary.statePulse(canaryDir)
      val disk0 = Canary.diskSnapshot()
      val wall0 = System.nanoTime()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            -1.0
        }
      }
      for (a <- disk0; b <- Canary.diskSnapshot()) {
        val d = b - a
        val wallMs = math.max((System.nanoTime() - wall0) / 1e6, 1.0)
        diskSeries += ((name, d.ioMs / wallMs,
          d.writeMs.toDouble / math.max(d.writes, 1L),
          d.flushMs.toDouble / math.max(d.flushes, 1L)))
      }
      if (times.exists(_ < 0)) { errors += 1; name -> (-1.0, -1.0) }
      else name -> (median(times), times.min)
    }
    def fmt(v: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // The harness tail-captures only the last ~2000 chars of output, and a
    // JSON line whose head (where "metric"/"value" live) is cut cannot be
    // parsed. So: full per-query detail first (complete in the full log,
    // possibly head-truncated in the tail), then ONE compact final line —
    // total + the slowest queries — guaranteed to fit whole in the window.
    val qsAll = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v._1) }
      .mkString("{", ",", "}")
    println(s"""{"detail":$qsAll}""")
    val qsMin = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v._2) }
      .mkString("{", ",", "}")
    println(s"""{"detail_min":$qsMin}""")
    // keyed by the query the pulse ran just before, in RUN order — the
    // inline state-band record a tail reading is attributed against
    val pulseJson = statePulses
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"canary_state_series":$pulseJson}""")
    val stateMax = if (statePulses.isEmpty) -1.0 else statePulses.map(_._2).max
    // per-query device window: [busy fraction, write await ms, flush await ms]
    val diskJson = diskSeries
      .map { case (k, busy, w, f) =>
        s"\"" + k + "\":[" + fmt(busy) + "," + fmt(w) + "," + fmt(f) + "]" }
      .mkString("{", ",", "}")
    println(s"""{"disk_per_query":$diskJson}""")
    val flushMax = if (diskSeries.isEmpty) -1.0 else diskSeries.map(_._4).max
    val wAwaitMax = if (diskSeries.isEmpty) -1.0 else diskSeries.map(_._3).max
    val slowest = results.toSeq.sortBy(-_._2._1).take(12)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v._1) }
      .mkString("{", ",", "}")
    val finalLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$slowest,"n_queries":${results.size},"errors":$errors,"reps":$reps,"stat":"median","canary_cpu_sec":${fmt(canaryCpu)},"canary_fs_sec":${fmt(canaryFs)},"canary_spill_sec":${fmt(canarySpill)},"canary_state_sec":${fmt(canaryState)},"canary_state_max":${fmt(stateMax)},"disk_w_await_max_ms":${fmt(wAwaitMax)},"disk_flush_await_max_ms":${fmt(flushMax)},"sf":"$sfDir","total_sec":${fmt(total)}}"""
    println(finalLine)
    // Redundant file copy of the contract line: survives any stdout
    // wrapping/truncation between the forked JVM and the caller's parser.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p), (finalLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: $e") }
    }
    spark.stop()
  }
}
