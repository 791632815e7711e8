package lambdabench

import scala.collection.mutable

import graft.Engine
import graft.functions.TextFunctions
import graft.operators.{NearDedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pretraining-corpus flow, CPU-bound and store-free: a pass over
  * the seeded corpus runs the quality and language filters, exact dedup
  * by content hash, MinHash near-dedup (`NearDedup.minhashNearDups`,
  * exact-Jaccard verified), the connected-components drop
  * (`Engine.dropNearDuplicates`) and per-doc token counts. The corpus
  * (`<input>/corpus`) carries planted exact copies and near duplicates
  * (`planted.parquet`: variant doc, its base doc, kind).
  *
  * `batch_recompute` runs a pass as one of its batch views; the
  * `corpus_dedup` workload runs passes alone.
  */
final class Corpus(ctx: Ctx, plan: Plan) {
  val threshold: Double = plan.double("threshold")
  val out: String = ctx.dir("corpus-out")
  private var cached: DataFrame = _
  private var passes = 0

  /** (Re)load the corpus into the session's cache: the set-up step. */
  def load(): Unit = {
    if (cached != null) cached.unpersist(blocking = true)
    cached = ctx.spark.read.parquet(ctx.input + "/corpus/docs.parquet").cache()
    cached.count()
  }

  lazy val nDocs: Long = cached.count()

  /** One pass; returns the near-dedup stage's seconds. */
  def pass(req: String): Double = {
    if (Layer.measured(req)) passes += 1
    CorpusDedup.pass(ctx, cached, threshold, out, req)
  }

  /** An untimed pass over one of the corpus files, so JIT and codegen
    * are warm before the window at a fraction of a full pass's cost.
    */
  def warmup(): Unit = {
    val part = new java.io.File(ctx.input + "/corpus/docs.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).min
    CorpusDedup.pass(ctx, ctx.spark.read.parquet(part), threshold, ctx.dir("corpus-warmup"),
      "warmup")
  }

  /** After the window: recall, the traced counts, facts and the recall
    * check. Returns the planted-near-duplicate recall.
    */
  def finish(): Double = {
    val recall = CorpusDedup.plantedRecall(ctx, out)
    if (ctx.trace.enabled) countLayers()
    ctx.report.fact("threshold", threshold.toString)
    ctx.report.fact("out", Json.str(out))
    ctx.report.check("corpus.planted_recall_floor", recall >= plan.double("recall_floor"),
      f"recall $recall%.4f, floor ${plan.double("recall_floor")}")
    cached.unpersist(blocking = true)
    recall
  }

  /** Traced runs: the filters' share of rows kept, the MinHash band
    * candidates before the exact verify, the verified pairs and the CC
    * edges of one pass. Every pass sees the same corpus, so they are
    * counted once, after the window and outside every measured span, and
    * stand for each pass.
    */
  private def countLayers(): Unit = ctx.trace.untracked {
    val filtered = CorpusDedup.filters(cached)
    val rowsOut = filtered.count()
    val exact = CorpusDedup.exactDedup(filtered)
    val candidates = CorpusDedup.candidates(exact)
    val pairs = ctx.spark.read.parquet(out + "/pairs")
    val verified = pairs.count().toDouble
    Seq(filtered, exact).foreach(_.unpersist())
    Layer.set("operators.TextOps.filters", "rows_out_frac", rowsOut.toDouble / nDocs)
    Layer.set("operators.NearDedup.minhash", "candidates", candidates)
    Layer.set("operators.NearDedup.minhash", "verified_pairs", verified)
    Layer.set("operators.NearDedup.minhash", "useful_ratio", verified / math.max(1.0, candidates))
    Layer.ccEdges(ctx, pairs.select(col("i").as("src"), col("j").as("dst")), calls = passes)
  }
}

/** `corpus_dedup`: passes over the corpus alone (see [[Corpus]]). */
object CorpusDedup {
  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val plan = Plan.read(ctx.input + "/plan.json")
    val corpus = new Corpus(ctx, plan)
    // set-up: load the corpus into the session's cache, several times
    val setupReps = plan.int("setup_reps")
    (1 to setupReps).foreach { i =>
      ctx.cpu.measure(s"setup-$i")(ctx.trace.span("setup", s"setup-$i")(corpus.load()))
    }
    val nDocs = corpus.nDocs
    r.mark("setup")
    corpus.warmup()
    r.mark("warmup")

    val passS = mutable.ArrayBuffer.empty[Double]
    val minhashS = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline) {
      val (mh, s) = Stats.timed(corpus.pass(s"pass-$n"))
      passS += s
      minhashS += mh
      r.attempted += 1
      n += 1
    }
    r.mark("window")
    ctx.cpu.drain()
    val passCpu = (0 until n).map(i => CorpusDedup.passCpuS(ctx, s"pass-$i"))
    val minhashCpu = (0 until n).map(i => ctx.cpu.cpuS(s"pass-$i.minhash"))
    r.metric("setup_s", Stats.median((1 to setupReps).map(i => ctx.cpu.cpuS(s"setup-$i"))), "s")
    r.metric("op_cpu_s", Stats.median(passCpu), "s")
    r.metric("step_cpu_ms", Stats.median(minhashCpu) * 1000, "ms")
    val recall = corpus.finish()
    r.fact("table", Json.obj(
      "dedup_docs_per_s" -> (nDocs * passS.size / passS.sum, "1/s"),
      "dedup_pass_p50_s" -> (Stats.median(passS.toSeq), "s"),
      "dedup_pass_cpu_p50_s" -> (Stats.median(passCpu), "s"),
      "minhash_p50_s" -> (Stats.median(minhashS.toSeq), "s"),
      "dedup_planted_recall" -> (recall, "ratio"),
      "passes" -> (passS.size.toDouble, "count"),
      "docs" -> (nDocs.toDouble, "count")))
  }

  /** One pass; writes the near-dup pairs and the surviving docs' token
    * counts under `out`, returns the near-dedup stage's seconds. The
    * pass's three steps are CPU-metered as `<req>.prep` (filters, exact
    * dedup), `<req>.minhash` and `<req>.rest` (CC drop, token counts).
    */
  private[lambdabench] def pass(ctx: Ctx, docs: DataFrame, threshold: Double, out: String,
      req: String): Double = {
    ctx.trace.span("pass", req) {
      val (filtered, exact) = ctx.cpu.measure(s"$req.prep") {
        val filtered = Layer.call(ctx, "operators.TextOps.filters", None)(filters(docs))
        (filtered, Layer.call(ctx, "operators.TextOps.exactDedup", None)(exactDedup(filtered)))
      }._1
      val (pairs, mhS) = ctx.cpu.measure(s"$req.minhash") {
        Layer.call(ctx, "operators.NearDedup.minhash", None) {
          val p = NearDedup.minhashNearDups(exact, threshold)
          p.write.mode("overwrite").parquet(out + "/pairs")
          p
        }
      }
      ctx.cpu.measure(s"$req.rest") {
        val kept = Layer.call(ctx, "operators.GraphOps.cc", None) {
          Engine.dropNearDuplicates(exact, pairs.select("i", "j"))
        }
        Layer.call(ctx, "operators.TextOps.tokenCounts", None) {
          kept.select(col("doc_id"), size(TextFunctions.tokens(col("text"))).as("n_tokens"))
            .write.mode("overwrite").parquet(out + "/survivors")
        }
      }
      Seq(filtered, exact, pairs).foreach(_.unpersist())
      mhS
    }
  }

  /** CPU seconds of pass `req` (after [[CpuMeter.drain]]). */
  private[lambdabench] def passCpuS(ctx: Ctx, req: String): Double =
    Seq("prep", "minhash", "rest").map(p => ctx.cpu.cpuS(s"$req.$p")).sum

  /** The quality and language filters. */
  private[lambdabench] def filters(docs: DataFrame): DataFrame =
    docs
      .where(col("n_chars") >= 100 && size(TextFunctions.tokens(col("text"))) >= 20 &&
        TextOps.predLang(col("text")) === "en")
      .select("doc_id", "text")
      .localCheckpoint()

  /** Exact dedup by content hash, keeping the lowest doc id. */
  private[lambdabench] def exactDedup(filtered: DataFrame): DataFrame =
    filtered
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .where(col("rn") === 1).drop("rn")
      .localCheckpoint()

  /** Candidate pairs the MinHash bands produce before the exact verify,
    * recomputed outside the layer's span.
    */
  private[lambdabench] def candidates(exact: DataFrame): Double = {
    val sigs = exact
      .select(col("doc_id"),
        NearDedup.minhashSignatureArray(TextFunctions.shingleHashes(col("text"), 3)).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until NearDedup.NumHashes).map(i => col("sig")(i).as(s"mh$i")): _*)
    NearDedup.minhashCandidates(sigs, 10000).count().toDouble
  }

  /** Share of planted near duplicates (generated above the threshold,
    * with both docs passing the filters) whose variant the pass removed.
    */
  private[lambdabench] def plantedRecall(ctx: Ctx, out: String): Double = {
    val spark = ctx.spark
    val planted = spark.read.parquet(ctx.input + "/corpus/planted.parquet")
      .where(col("kind") === "near")
    val survivors = spark.read.parquet(out + "/survivors").select("doc_id")
    val total = planted.count()
    val removed = planted.join(survivors, Seq("doc_id"), "left_anti").count()
    if (total == 0) 1.0 else removed.toDouble / total
  }
}
