package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Wall-clock SCALING probe for the bench's heaviest queries (round-11
  * task): ScaleShapeSpec/TenXScaleSmokeSpec prove plan shapes and cap
  * engagement, but nothing recorded how wall-time actually GROWS with
  * input size. This main times the top bench queries at three scales —
  * sf0.01, sf0.1, and a synthesized 10×-sf0.1 corpus (documents and
  * embeddings ×10; see [[synthScale]]) — plus, for the [[Targets100x]]
  * heaviest hitters, a 100×-sf0.1 point (round-12 task: the steepest
  * query's top DECADE was 0.77 at 10×, and one more decade is what
  * shows whether that segment keeps flattening or breaks superlinear) —
  * and fits a per-query scaling exponent over log(time) vs
  * log(primary-table rows):
  *
  *     exponent ≈ 1 → linear, < 1 → fixed costs still dominate,
  *     > ~1.15 → superlinear, needs a declared reason (BASELINE.md).
  *
  * Stream/store queries whose primary input is `events` get their
  * exponent from sf0.01 → sf0.1 (a true 10× for events); the synthetic
  * corpus scales only documents/embeddings, so running them there would
  * just repeat the sf0.1 point.
  *
  * Timing MATERIALIZES every output column via a noop-format write
  * (round-12 ADVICE: `.count()` let Catalyst prune unconsumed
  * projection columns, so per-row expression cost — text_clean
  * rebuilds, redacted text — was excluded from the fitted exponents;
  * the noop write runs the SERVED plan). Bench keeps its historical
  * `.count()` convention; the two are therefore not comparable
  * second-for-second, only exponent-for-exponent — recorded in the
  * artifact's meta.
  *
  * Usage: `sbt "runMain graft.Scaling SCALING_r12.json"` (or via
  * tools/scaling.py). Reps per point via SPARK_GRAFT_SCALING_REPS
  * (default 3, medians — same noise rationale as Bench); the 100×
  * points default to 1 rep (SPARK_GRAFT_SCALING_REPS_100X) — they cost
  * minutes each and probe a decade, not a noise band.
  */
object Scaling {

  /** Top-10 of bench_out/r10_close.json by median seconds, with each
    * query's primary (scale-driving) input table.
    */
  val Targets: Seq[(String, String)] = Seq(
    "pipeline_embedding_corpus" -> "embeddings",
    "stream_cc" -> "events",
    "near_dedup_apply_incremental" -> "documents",
    "ann_ivfpq_indexed" -> "embeddings",
    "pipeline_pretraining_corpus_scale" -> "documents",
    "stream_quality_filter" -> "documents",
    "batch_workflow" -> "events",
    "pipeline_pretraining_corpus" -> "documents",
    "stream_upsert" -> "events",
    "stream_join_interval" -> "events",
    // round-13 additions: the two r12 newcomers to the bench top-12
    // (SCALING_r12 predates them)
    "text_bm25_index_append" -> "documents",
    "near_dedup_keep_best" -> "documents",
    // round-14 additions (r13 VERDICT task 4): the three r13 newcomers
    // in the bench top-12 without scaling coverage
    "hybrid_search_ann_indexed" -> "embeddings",
    "stream_lex_append" -> "documents",
    "near_dedup_keep_best_incremental" -> "documents",
    // the r14 newcomers, covered the round they landed (don't wait for
    // the verdict to ask): the batch serving forms + the vector fold
    "hybrid_search_ann_batch" -> "embeddings",
    "hybrid_search_batch" -> "documents",
    "stream_vec_append" -> "embeddings",
    // round-16 (r15 verdict task 5): the span-dedup family carries a
    // 100 TB claim (winnowed discovery, occurrence-linear fan-out) that
    // had no measured curve
    "text_span_scrub" -> "documents",
    "text_span_scrub_windowed" -> "documents",
    // round-16 (r15 verdict task 4): the new trigram LM — its model
    // relations follow the heaviest Heaps tail in the LM family
    "text_trigram_logprob" -> "documents",
    // round-16: the store-served nightly apply, covered the round it
    // landed (probes the same decade as its recompute sibling)
    "near_dedup_apply_store" -> "documents",
    // round-17 newcomers, covered the round they landed: the store-served
    // keep-best (the sidecar read replaces BOTH nightly text passes) and
    // the streamed signature fold (build+appends+compaction per run).
    // text_span_scrub above now measures the ROUTED form — its 100x
    // point exercises the windowed plan the route switches to.
    "near_dedup_keep_best_store" -> "documents",
    "stream_shingle_append" -> "documents")

  /** The non-events heavy hitters that also get a 100× point: the
    * steepest scaler (pipeline_embedding_corpus, top-decade 0.77 at
    * r11) and the two next-largest corpus-driven queries.
    */
  val Targets100x: Set[String] = Set(
    "pipeline_embedding_corpus",
    "near_dedup_apply_incremental",
    "ann_ivfpq_indexed",
    // round-13 task: 10× AND 100× points for the two newcomers
    "text_bm25_index_append",
    "near_dedup_keep_best",
    // round-14: the LSH-routed keep-best maintenance form probes the
    // same 50k→500k decade its batch sibling was superlinear in
    "near_dedup_keep_best_incremental",
    // round-15 (r14 verdict task 4): the r14 newcomers stopped at 10×
    "hybrid_search_batch",
    "hybrid_search_ann_batch",
    "stream_vec_append",
    // round-16 (r15 verdict task 5): the span family's 100 TB claim is
    // specifically about the final decade — probe it
    "text_span_scrub",
    "text_span_scrub_windowed",
    // round-16: the store-served apply probes the decade its recompute
    // sibling (near_dedup_apply_incremental) carries
    "near_dedup_apply_store",
    // round-17: the keep-best store form probes the same decade as its
    // recompute sibling; the routed span scrub's 100x point is the whole
    // point of the route (the windowed plan must hold ~1.0 there)
    "near_dedup_keep_best_store")

  /** One more octave past 100× for the queries whose 100× point is
    * large enough that the next doubling is worth buying (r15: the
    * keep-best maintenance form's 500k point was 100.8 s at r14 — a 1M
    * probe confirms whether its 0.85 final decade holds or the curve
    * breaks). 200× of sf0.1 = 1M documents rows.
    */
  val Targets200x: Set[String] = Set(
    "near_dedup_keep_best_incremental")

  /** Synthesize a `factor`× corpus from sf0.1: every non-synthesized
    * table's parquet is copied verbatim; `documents` and `embeddings`
    * get the base rows plus factor−1 replicas with remapped ids and
    * DECORRELATED content — replica tokens carry a replica tag (so no
    * cross-replica shingle collisions turn the whole corpus into one
    * near-dup cluster and change the workload's character; the tag ends
    * in '_' so multi-digit replica ids can't alias single-digit ones),
    * embeddings get a per-replica deterministic sign pattern (norm- and
    * within-replica-cosine-preserving, cross-replica cosines collapse
    * toward 0 — not near-dups of the base vectors).
    */
  def synthScale(spark: SparkSession, sf01: String, factor: Int): String = {
    val dir = Files.createTempDirectory(s"graft_scaling${factor}x").toString
    // copy every single-file table as-is, then overwrite the two
    // synthesized ones with directories of the same .parquet name
    val src = new java.io.File(sf01)
    src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.copy(f.toPath, Paths.get(dir, f.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // Replication is ONE row-local explode over the replica index, not
    // factor−1 chained unions (r15 ADVICE: the union form's plan grew a
    // branch per replica — 199 at the 200× probe — paying analysis cost
    // per branch and re-scanning the base table per replica). k = 0 is
    // the untouched base; replica k ≥ 1 carries the SAME remapping the
    // union form used (id stride k, token tag r{k−1}_, sign pattern
    // hash(i, k−1)) so synthesized corpora are row-identical across the
    // generator change and scaling points stay comparable.
    val IdStride = 10000000L
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    Files.delete(Paths.get(dir, "documents.parquet"))
    docs
      .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("k"))
      .select(
        (col("doc_id") + col("k") * lit(IdStride)).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            x => concat(lit("r"), (col("k") - 1).cast("string"), lit("_"), x))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(16).write.parquet(s"$dir/documents.parquet")
    // deterministic per-replica SIGN PATTERN: within a replica every
    // pairwise cosine is preserved exactly (|v ⊙ s| = |v|,
    // (v⊙s)·(w⊙s) = v·w — the replica is an isometric copy of the
    // base workload), while ACROSS replicas the patterns differ in
    // ~half the positions, so cross-replica cosines collapse toward 0
    // and the 10x corpus doesn't degenerate into one giant near-dup
    // component (a component rotation does exactly that on smooth
    // cluster-structured vectors — measured: 20000 rows -> 3 dedup
    // survivors)
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    Files.delete(Paths.get(dir, "embeddings.parquet"))
    emb
      .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("k"))
      .select(
        (col("vec_id") + col("k") * lit(IdStride)).as("vec_id"),
        when(col("k") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            when(pmod(hash(i, col("k") - 1), lit(2)) === 0, x)
              .otherwise(-x).cast("float"))).as("embedding"),
        col("label"))
      .repartition(16).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Least-squares slope of log(sec) on log(rows). */
  private def fitExponent(pts: Seq[(Long, Double)]): Double = {
    val xy = pts.map { case (n, t) => (math.log(n.toDouble), math.log(t)) }
    val mx = xy.map(_._1).sum / xy.size
    val my = xy.map(_._2).sum / xy.size
    val num = xy.map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (den == 0) Double.NaN else num / den
  }

  def main(args: Array[String]): Unit = {
    // scaling curves for build-then-serve queries measure the BUILD path
    // every rep (see IndexCache.enabled) — exponents stay comparable
    // across the r16 serving-cache change
    IndexCache.enabled = false
    val out = args.headOption.getOrElse("SCALING.json")
    // optional second arg: comma-separated target filter, for re-probing
    // a single query after a plan change without the full ~1h sweep
    // (merge the filtered artifact into the round file by hand)
    val only = args.lift(1).map(_.split(",").toSet)
    for (names <- only; unknown = names -- Targets.map(_._1) if unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"not a scaling target: ${unknown.toSeq.sorted.mkString(",")} (see Scaling.Targets)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.get("SPARK_GRAFT_SCALING_REPS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1).getOrElse(3)
    // shared recipe (graft.Sessions); conf rationale lives there
    val spark = Sessions.base(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf001 = "/root/testdata/sf0.01"
    val sf01 = "/root/testdata/sf0.1"
    val reps100x = sys.env.get("SPARK_GRAFT_SCALING_REPS_100X")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1).getOrElse(1)
    System.err.println("[scaling] synthesizing 10x corpus from sf0.1 ...")
    val tenX = synthScale(spark, sf01, 10)
    System.err.println("[scaling] synthesizing 100x corpus from sf0.1 ...")
    val hundredX = synthScale(spark, sf01, 100)
    // the 200x corpus is synthesized only if a Targets200x query runs
    lazy val twoHundredX = {
      System.err.println("[scaling] synthesizing 200x corpus from sf0.1 ...")
      synthScale(spark, sf01, 200)
    }
    val scales = Seq("sf0.01" -> sf001, "sf0.1" -> sf01, "10x" -> tenX,
      "100x" -> hundredX)
    def rowsOf(dir: String, table: String): Long =
      spark.read.parquet(s"$dir/$table.parquet").count()
    val rowCache = scala.collection.mutable.Map.empty[(String, String), Long]
    // the SERVED plan, not the count()-pruned one: a noop-format write
    // materializes every output column (see the object scaladoc)
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // per-target host canary (r16: the full sweep's TAIL targets read
    // 40-90% above fresh-JVM probes of the same binary — accumulated
    // JVM state / cold page cache late in a long sweep; a canary next
    // to each target makes that drift visible inside ONE artifact
    // instead of requiring a dedicated re-probe). 1 rep: this brackets
    // a minutes-scale target, not a noise band.
    val canaryDir = new java.io.File(
      Files.createTempDirectory("graft_scaling_canary").toFile, "c")
    val results = Targets.filter(t => only.forall(_.contains(t._1)))
      .map { case (name, table) =>
      val (cCpu, cFs, cSpill, cState) = Canary.probe(canaryDir, reps = 1)
      System.err.println(f"[scaling] canary before $name%-28s cpu=$cCpu%.3f fs=$cFs%.3f spill=$cSpill%.3f state=$cState%.3f")
      val disk0 = Canary.diskSnapshot()
      val wall0 = System.nanoTime()
      val fn = SparkEntry.queries(name)
      // events-driven queries skip the synthetic dirs (events aren't
      // scaled there — the points would duplicate sf0.1); the 100x
      // decade runs only for the declared heavy hitters
      val dirs =
        if (table == "events") scales.take(2)
        else if (Targets200x(name)) scales :+ ("200x" -> twoHundredX)
        else if (Targets100x(name)) scales
        else scales.take(3)
      val pts = dirs.map { case (label, dir) =>
        val n = rowCache.getOrElseUpdate((dir, table), rowsOf(dir, table))
        System.gc(); Thread.sleep(200)
        val ptReps = if (label == "100x" || label == "200x") reps100x else reps
        val times = (1 to ptReps).map { _ =>
          val t0 = System.nanoTime()
          try { materialize(fn(spark, dir)); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[scaling] $name @ $label failed: $e"); -1.0 }
        }
        val med = if (times.exists(_ < 0)) -1.0 else median(times)
        System.err.println(f"[scaling] $name%-36s $label%-7s rows=$n%9d sec=$med%8.3f")
        (label, n, med)
      }
      val ok = pts.filter(_._3 > 0)
      val exp =
        if (ok.map(_._2).distinct.size >= 2) fitExponent(ok.map(p => (p._2, p._3)))
        else Double.NaN
      // device attribution over the target's whole window (see
      // Canary.diskSnapshot: probes on their own schedule miss the
      // write-contention band; deltas during the work don't)
      val disk = (for (a <- disk0; b <- Canary.diskSnapshot()) yield {
        val d = b - a
        val wallMs = math.max((System.nanoTime() - wall0) / 1e6, 1.0)
        (d.ioMs / wallMs, d.writeMs.toDouble / math.max(d.writes, 1L),
          d.flushMs.toDouble / math.max(d.flushes, 1L))
      }).getOrElse((-1.0, -1.0, -1.0))
      (name, table, pts, exp, (cCpu, cFs, cSpill, cState), disk)
    }

    def fmt(v: Double): String =
      if (v.isNaN) "null"
      else java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val json = results.map { case (name, table, pts, exp, (cCpu, cFs, cSpill, cState), (dBusy, dW, dF)) =>
      val pjson = pts.map { case (l, n, t) =>
        s"""{"scale":"$l","rows":$n,"sec":${fmt(t)}}""" }.mkString("[", ",", "]")
      val superlinear = !exp.isNaN && exp > 1.15
      s""" "$name": {"table":"$table","points":$pjson,"exponent":${fmt(exp)},"superlinear":$superlinear,"canary_cpu_sec":${fmt(cCpu)},"canary_fs_sec":${fmt(cFs)},"canary_spill_sec":${fmt(cSpill)},"canary_state_sec":${fmt(cState)},"disk_busy_frac":${fmt(dBusy)},"disk_w_await_ms":${fmt(dW)},"disk_flush_await_ms":${fmt(dF)}}"""
    }.mkString("{\n", ",\n", s""",\n "meta": {"reps":$reps,"reps_100x":$reps100x,"stat":"median","cpus":$cpus,"tenx_dir":"$tenX","hundredx_dir":"$hundredX","materialize":"noop-write (full column materialization; Bench times .count() — seconds not comparable across the r11->r12 convention change, exponents are)"}\n}\n""")
    Files.writeString(Paths.get(out), json)
    println(s"[scaling] wrote $out")
    println(json)
    spark.stop()
  }
}
