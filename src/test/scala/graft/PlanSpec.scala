package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the optimizations the 100 TB design relies
  * on must actually appear in the executed plans (SURVEY.md §4) — a
  * regression here is a silent 100× at scale even when results stay
  * correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every node of a physical plan, INCLUDING the subtrees hidden behind
    * AQE wrappers: TreeNode.collect does not descend into
    * AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec (they
    * expose no children), so a plain `plan.collect` over an AQE plan sees
    * one node and every assertion on it passes vacuously.
    */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: children.flatMap(nodes)
  }

  private def collectNodes[T](df: DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
    nodes(df.queryExecution.executedPlan).collect(pf)

  /** Count real shuffle nodes in the physical plan (AQE-aware). String
    * matching on formatted explain is fragile (exchanges render as
    * "(n) Exchange", never at line start), so walk the tree instead.
    * Deduped by reference identity: a ReusedExchangeExec points at an
    * exchange instance that already appears (and executes) elsewhere.
    */
  private def shuffles(df: DataFrame): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    collectNodes(df) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.count(seen.add)
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  test("scan_pruned pushes the predicate into the parquet scan") {
    val p = plan(q("scan_pruned"))
    assert(p.contains("PushedFilters") &&
      p.matches("(?s).*PushedFilters:.*event_type.*"), p)
  }

  test("corpus_mix_weights scans the corpus exactly once") {
    val scans = collectNodes(q("corpus_mix_weights")) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"totals must come from the aggregate, not a second scan: ${scans.size}")
  }

  test("scd2_history's two windows share one shuffle (same partitioning)") {
    // lag (change capture) and lead (valid_to) both window over
    // (user_id; ts_secs, event_id): a second exchange would mean the
    // window specs diverged. +1 exchange for the final total sort.
    assert(shuffles(q("scd2_history")) <= 2,
      "change-capture and versioning windows must reuse one partitioning")
  }

  test("sample_weighted selects top-k via TakeOrderedAndProject, not a global sort") {
    val p = plan(q("sample_weighted"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("semantic_decontaminate anti-joins via broadcast nested loop — the corpus never shuffles") {
    val p = plan(q("semantic_decontaminate"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast under the cosine-threshold condition:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-sized shuffle or unbroadcast product:\n$p")
    // only the declared ORDER BY may exchange the surviving rows
    assert(shuffles(q("semantic_decontaminate")) <= 1,
      "anti-join must add zero corpus shuffles")
  }

  test("sample_importance broadcasts the floored model and takes top-k, never a global sort") {
    val p = plan(q("sample_importance"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K selection must be map-side k rows per task:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the scoring join must broadcast the vocab:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized sort-merge join means the vocab bound was lost:\n$p")
  }

  test("text_gopher_filter is one row-local pass: no joins, no aggregates, one sort exchange") {
    val p = plan(q("text_gopher_filter"))
    assert(!p.contains("Join"), s"the rule set must not join:\n$p")
    assert(!p.contains("HashAggregate"),
      s"per-doc metrics must be row-local expressions, not aggregates:\n$p")
    assert(shuffles(q("text_gopher_filter")) <= 1,
      "only the declared ORDER BY may exchange")
  }

  test("hybrid_search_rrf: broadcast probe, heap-reduced branches, no cartesian") {
    val p = plan(q("hybrid_search_rrf"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the semantic branch must scan the corpus against a BROADCAST probe:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast product anywhere in the fusion:\n$p")
    // both branches reduce through the map-side TopKAgg heap (partial +
    // final ObjectHashAggregate per branch) — never a corpus-sized window
    val heapAggs = collectNodes(q("hybrid_search_rrf")) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(heapAggs.size >= 4,
      s"expected partial+final heap aggregates on both branches, got ${heapAggs.size}:\n$p")
  }

  test("text_unigram_logprob broadcasts the vocab (no sort-merge join)") {
    val p = plan(q("text_unigram_logprob"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the token->vocab join must broadcast the token-type-sized side")
  }

  test("sink_partitioned read prunes partitions, not post-scan filters") {
    val p = plan(q("sink_partitioned"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type"),
      s"partition predicate must reach the scan's PartitionFilters:\n$p")
  }

  test("scan_pruned prunes columns: ts/props never read") {
    val p = plan(q("scan_pruned"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("ts"),
      s"unexpected columns in $readSchema")
  }

  test("join_inner broadcasts every dimension (no shuffled fact join)") {
    val p = plan(q("join_inner"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "fact table must not shuffle for the star join")
  }

  test("agg_count does map-side partial aggregation") {
    val p = plan(q("agg_count"))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("agg_rollup_granularity reuses hourly partials (two aggregation levels)") {
    val p = plan(q("agg_rollup_granularity"))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 4, s"expected two partial+final aggregation levels:\n$p")
  }

  test("topk_orders uses TakeOrderedAndProject, not a global sort") {
    val p = plan(q("topk_orders"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("similarity_topk broadcasts the probe set") {
    val p = plan(q("similarity_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("whole-stage codegen covers the q1 aggregation pipeline") {
    // AQE reveals codegen spans only in the executed plan
    val df = q("q1_agg")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd spans print as "*(n) Node" in the simple plan string
    assert(p.contains("*("), p)
  }

  test("batch_workflow joins and aggregates without a cartesian product") {
    val p = plan(q("batch_workflow"))
    assert(!p.contains("CartesianProduct"), p)
    // the count-distinct view still does partial aggregation
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("lshBandCodes computes codes with zero shuffles (no per-dimension explode)") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = operators.VectorOps.lshBandCodes(spark, emb, 8, 6)
    assert(shuffles(df) == 0,
      s"band-code computation must be a narrow map:\n${plan(df)}")
  }

  test("band codes are the native codegen expression, not a Scala UDF") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = operators.VectorOps.lshBandCodes(spark, emb, 8, 6)
    df.collect() // AQE reveals codegen spans only in the executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("srp_band_codes"), s"native expression missing:\n$p")
    assert(!p.contains("UDF"), s"band codes must not go through the UDF converter layer:\n$p")
    assert(p.contains("*("), s"band-code projection must be whole-stage codegen'd:\n$p")
  }

  test("multi-probe probe codes are native, codegen'd, and shuffle-free") {
    import org.apache.spark.sql.functions.{col, posexplode}
    val emb = Tables.embeddings(spark, sf0001).where(col("vec_id") < 10)
    val dims = 64
    val df = emb.select(col("vec_id"), posexplode(org.apache.spark.sql.graft.SrpNative
      .srpMultiProbeCodes(col("embedding"), 8, 6, dims, 2)).as(Seq("pos", "code")))
    assert(shuffles(df) == 0,
      s"probe-code computation must be a narrow map:\n${plan(df)}")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("srp_multiprobe_codes"), s"native expression missing:\n$p")
    assert(!p.contains("UDF"), s"probe codes must not go through the UDF converter layer:\n$p")
  }

  test("annIvf assigns cells natively: no MLlib vector boxing in the query plan") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val df = operators.VectorOps.annIvf(spark, emb, col("vec_id") < 10, k = 5, nCells = 16)
    val p = df.queryExecution.executedPlan.toString
    // the toVec UDF and localCheckpoint exist only on the bounded TRAINING
    // sample (materialized before this plan); the corpus-wide plan streams
    // through nearest_centroid with no boxing and no corpus checkpoint
    assert(p.contains("nearest_centroid"), s"native assignment missing:\n$p")
    assert(!p.contains("UDF"), s"corpus pass must not box through a UDF:\n$p")
    assert(!p.toLowerCase.contains("checkpoint"), s"no corpus-sized checkpoint:\n$p")
  }

  test("near_dedup_cosine_lsh is bucketed: no cartesian/nested-loop pair generation") {
    val p = plan(q("near_dedup_cosine_lsh"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate pairs must come from the (t, code) equi-join:\n$p")
  }

  test("minhash/simhash signatures are row-local (zero shuffles)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val minhash = docs.select(col("doc_id"),
      operators.NearDedup.minhashSignatureArray(
        functions.TextFunctions.shingleHashes(col("text"), 3)).as("sig"))
    assert(shuffles(minhash) == 0,
      s"minhash signature must be a narrow map:\n${plan(minhash)}")
    val simhash = operators.NearDedup.simhashSignatures(docs)
    assert(shuffles(simhash) == 0,
      s"simhash signature must be a narrow map:\n${plan(simhash)}")
  }

  test("join_range executes as a banded equi-join, never a nested-loop product") {
    val p = plan(q("join_range"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must band to an equi-join:\n$p")
  }

  test("langid and winnowing fingerprints are row-local (zero shuffles)") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.PredLang
    val docs = Tables.documents(spark, sf0001)
    // the nodes one codegen stage compiles (InputAdapter ends the stage)
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case o => o +: o.children.flatMap(stage)
    }
    for (df <- Seq(operators.TextOps.langid(docs), operators.TextOps.pretrainFilter(docs))) {
      assert(shuffles(df) == 0, s"language ID must be a narrow map:\n${plan(df)}")
      val hofs = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case h @ (_: HigherOrderFunction | _: LambdaFunction) => h
      }))
      assert(hofs.isEmpty, s"language ID must not run interpreted lambdas:\n${plan(df)}")
      val compiled = collectNodes(df) { case w: WholeStageCodegenExec => w }
        .exists(w => stage(w.child).exists(_.expressions.exists(_.exists(_.isInstanceOf[PredLang]))))
      assert(compiled, s"pred_lang must run inside whole-stage codegen:\n${plan(df)}")
    }
    val fp = docs.select(col("doc_id"),
      functions.TextFunctions.winnowFingerprints(col("text"), 4).as("f"))
    assert(shuffles(fp) == 0,
      s"winnowing must be a narrow map:\n${plan(fp)}")
  }

  test("span dedup: signatures row-local, partial aggs on every exchange, no cartesian") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val sig = docs.select(col("doc_id"),
      explode(functions.TextFunctions.shingleHashes(
        col("text"), operators.TextOps.SpanDedupN)).as("h"))
    assert(shuffles(sig) == 0,
      s"span signatures must be a narrow map:\n${plan(sig)}")
    val p = plan(operators.TextOps.spanDedup(docs, operators.TextOps.SpanDedupN))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span dedup joins must stay equi-joins:\n$p")
    // every final HashAggregate is fed by a partial one, not a raw exchange
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("shard_pack shuffles the corpus once (range partition), rest is partition-count-sized") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    val df = operators.CorpusOps.shardPack(docs, 10000L)
    // 1 range exchange over the data + 2 exchanges over the tiny
    // per-partition-totals side (agg + single-row-per-partition window)
    assert(shuffles(df) <= 3,
      s"expected one corpus-wide exchange + tiny offset-side exchanges:\n${plan(df)}")
  }

  test("sampling never puts a whole stratum through one task") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    // corpus_interleave included: its per-source rank must ride the same
    // stratumPrefix shape — a raw Window.partitionBy(source) would sort
    // the largest source (half the corpus under documented skew) in one task
    // corpus_ppl_split / corpus_source_cap: orderedStratumRank must keep
    // the same discipline under a numeric order key (nll) — the dominant
    // language/domain spreads over range partitions, never one task
    for (name <- Seq("sample_stratified", "sample_token_budget", "corpus_interleave",
        "corpus_ppl_split", "corpus_source_cap")) {
      val df = q(name)
      // the offset window over per-(partition, stratum) totals must be the
      // ONLY window — and it must sit above an aggregate, never raw rows
      val wins = collectNodes(df) { case w: WindowExec => w }
      assert(wins.nonEmpty,
        s"$name: expected the tiny offsets window:\n${plan(df)}")
      wins.foreach { w =>
        assert(nodes(w.child).collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
          s"$name: window over raw rows = whole stratum in one task:\n$w")
      }
      // no exchange hash-partitions raw rows by lang alone (the per-lang
      // quota aggregate may — its exchange carries partial aggregates)
      collectNodes(df) { case e: ShuffleExchangeLike => e }.foreach { e =>
        e.outputPartitioning match {
          case h: HashPartitioning
              if h.expressions.flatMap(_.references.map(_.name)) == Seq("lang") =>
            assert(nodes(e.child).collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
              s"$name: raw rows hash-shuffled by lang alone:\n$e")
          case _ =>
        }
      }
    }
  }

  test("sessionize uses one shuffle for window + aggregation (same keys)") {
    val df = q("sessionize_visits")
    // window partitioning (domain,user) feeds the (domain,user,visit_id)
    // group-by: Catalyst must not re-shuffle between them
    assert(shuffles(df) <= 2,
      s"expected <=2 exchanges (window + final sort):\n${plan(df)}")
  }

  test("gapfill grid is a per-key explode, never a keys x hours cross join") {
    val p = plan(q("timeseries_gapfill"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p)
    assert(p.contains("Generate"), p) // the sequence explode
  }

  test("triangle count: no cartesian, partial aggregation on the final count") {
    val df = q("graph_triangle_count")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p)
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // final count aggregates map-side first (partial + final)
    assert(collectNodes(df) { case a: BaseAggregateExec => a }.size >= 2, p)
  }

  test("keep-best forms: argmax is an aggregate, never a documents-sized window; affected set broadcasts") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // the quality argmax must be the map-side-combinable max_by groupBy —
    // a Window.partitionBy(cluster) would buffer the largest dup cluster
    // (boilerplate at web scale: millions of rows) in one task
    for (name <- Seq("near_dedup_keep_best", "near_dedup_keep_best_incremental")) {
      val df = q(name)
      assert(collectNodes(df) { case w: WindowExec => w }.isEmpty,
        s"$name: argmax regressed to a window:\n${plan(df)}")
    }
    // the incremental form's affected-cluster scoping must ride
    // broadcast joins (the affected set is batch-scoped by construction)
    // — a shuffled semi/anti join there would reshuffle the node-sized
    // labeling and the corpus-sized kept table per nightly batch
    val inc = q("near_dedup_keep_best_incremental")
    val bcasts = collectNodes(inc) {
      case b: BroadcastHashJoinExec => b
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bcasts.count(j =>
        j.joinType.toString == "LeftSemi" || j.joinType.toString == "LeftAnti") >= 2,
      s"affected-set semi/anti joins must broadcast:\n${plan(inc)}")
  }

  test("minhash verify joins per-doc hash ARRAYS, never the exploded shingle relation") {
    // r15: the pre-rewrite verify exploded the full corpus's shingles and
    // shuffled that ~100x-corpus-rows relation twice per call — the
    // measured wall-clock owner (and noise source) of the
    // keep_best_incremental 500k -> 1M octave. The rewritten shape joins
    // the cached (doc_id, hs) ARRAYS to the candidate endpoints and
    // intersects row-locally: its plan must carry ZERO Generate nodes
    // (no explode anywhere) and no cartesian fallback.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001).limit(50)
    val hashed = docs.select(col("doc_id"),
      functions.TextFunctions.shingleHashes(col("text"), 3).as("hs"))
    val candidates = hashed.select(col("doc_id").as("i"))
      .crossJoin(hashed.select(col("doc_id").as("j")))
      .where(col("i") < col("j")).limit(20)
    val df = operators.NearDedup.verifyJaccard(candidates, hashed, 0.1)
    val gens = collectNodes(df) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty,
      s"verify must not explode the shingle relation:\n${plan(df)}")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"verify joins must stay equi-joins:\n$p")
  }

  test("minhashNearDups (the batch dedup step) keeps its pinned plan shape") {
    // the step's queries run inside the operator (the hot-bucket
    // checkpoint, the drop-stats collect, the verify checkpoint), so
    // their executed plans are caught from a QueryExecutionListener.
    // Per query: (action, shuffle exchanges, broadcast exchanges,
    // sort-merge joins, broadcast hash joins, hash aggregates, generates)
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    spark.listenerManager.register(listener)
    try {
      operators.NearDedup.minhashNearDups(Tables.documents(spark, sf0001), 0.5)
      org.apache.spark.TestBus.drain(sc)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val shapes = seen.asScala.toSeq.map { case (f, qe) =>
      val all = nodes(qe.executedPlan)
      val ids = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      def n(p: PartialFunction[org.apache.spark.sql.execution.SparkPlan, AnyRef]) =
        all.collect(p).count(ids.add)
      (f, n { case e: ShuffleExchangeLike => e }, n { case e: BroadcastExchangeLike => e },
        n { case j: SortMergeJoinExec => j }, n { case j: BroadcastHashJoinExec => j },
        n { case a: HashAggregateExec => a },
        n { case g: org.apache.spark.sql.execution.GenerateExec => g })
    }
    assert(shapes == Seq(
      ("localCheckpoint", 1, 0, 0, 0, 2, 1), // hot-bucket counts
      ("collect", 1, 0, 0, 0, 2, 0), // drop stats
      ("localCheckpoint", 1, 3, 0, 3, 2, 2)), // band join + verify
      shapes.mkString("\n"))
  }
}
