package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The user-facing surface of the graft engine.
  *
  * Everything below operates on CALLER DataFrames — no table registry,
  * no fixture coupling; `SparkEntry.queries` (the driver contract) is
  * just these functions applied to the test tables. Column conventions
  * shared across the families:
  *
  *   - documents:  (`doc_id` long, `text` string)
  *   - embeddings: (`vec_id` long, `embedding` array<float>)
  *   - edges:      (`src` long, `dst` long)
  *
  * Session setup: any SparkSession works; for production sizes set
  * `spark.sql.shuffle.partitions` to your core count × 2-3 and register
  * `org.apache.spark.sql.graft.GraftExtensions` via
  * `spark.sql.extensions` to get the engine's SQL functions and the
  * approx-distinct rewrite rule. Sessions serving many SMALL IVF-PQ
  * indexes should also set
  * `spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly=false`
  * (see [[operators.VectorIndex.searchIvfPq]]).
  *
  * Each `val` below is a stable alias to an operator family; the defs
  * are convenience forwarders for the flagship flows. The full
  * capability → API mapping lives in README.md ("Using the engine").
  *
  * ==Example==
  * {{{
  * import graft.Engine
  *
  * // near-dedup a corpus at Jaccard 0.8, keep canonical docs
  * val pairs = Engine.nearDupPairs(docs, threshold = 0.8)
  * val canon = Engine.dropNearDuplicates(docs, pairs)
  *
  * // build + serve a persistent ANN index
  * Engine.index.buildIvfPq(spark, embeddings, "/indexes/corpus")
  * // probes: (vec_id, embedding); the rerank reads the indexed vectors
  * val hits = Engine.index.searchIvfPq(spark, "/indexes/corpus",
  *   probes, k = 10, nProbe = 8, rerank = 8)
  * }}}
  */
object Engine {

  // ---- operator families (stable aliases; see each object's scaladoc)

  /** Text pipeline: HTML strip, PII scrub, language ID, quality
    * signals, unigram/bigram-LM scoring, tf-idf/BM25 retrieval, span
    * dedup + windowed span scrub, exact/incremental dedup, winnowing
    * fingerprints, corpus report.
    */
  val text: operators.TextOps.type = operators.TextOps

  /** Near-duplicate detection: MinHash-LSH banded candidates + exact
    * verify, SimHash pigeonhole, shared hamming band join. All banded —
    * never an all-pairs join.
    */
  val dedup: operators.NearDedup.type = operators.NearDedup

  /** Vector search: exact cosine top-k, ANN (SRP-LSH / IVF / PQ /
    * IVF-PQ), embedding near-dedup (SRP-LSH and SemDeDup-style),
    * kNN label propagation from a broadcast labeled seed,
    * semantic decontamination (`semanticDecontaminate` — broadcast-anti
    * cosine vs the eval suite), outlier filtering, cluster-balanced
    * sampling. Auto-sizing rules:
    * √n IVF cells, log₂(n) LSH planes, dims/4 PQ subspaces.
    */
  val vectors: operators.VectorOps.type = operators.VectorOps

  /** Persistent IVF-PQ index lifecycle: build / append-without-retrain /
    * maintain / search with partition-pruned reads (parquet cell
    * directories ARE the inverted lists).
    */
  val index: operators.VectorIndex.type = operators.VectorIndex

  /** Persistent posting-list index for lexical BM25 serving — the
    * lexical sibling of [[index]] (build / bm25Scores / bm25TopK;
    * queries read only their terms' bucket partitions).
    */
  val lexindex: operators.LexIndex.type = operators.LexIndex

  /** Graph: pointer-jumping connected components (batch, incremental,
    * streaming via [[streaming.LabelStore]]), PageRank, triangle count.
    */
  val graph: operators.GraphOps.type = operators.GraphOps

  /** Training-corpus construction: sequence packing, sharding,
    * stratified/token-budget/weighted sampling, WFQ interleave,
    * DSIR importance selection (`importanceSample`), contamination
    * check, train/eval split, embedding quantization, CCNet
    * head/middle/tail perplexity split (`pplSplit`), per-domain
    * dominance cap (`sourceCap`).
    */
  val corpus: operators.CorpusOps.type = operators.CorpusOps

  /** BPE tokenizer lifecycle: learn merges (reference-exact), apply,
    * token counting.
    */
  val bpe: operators.Bpe.type = operators.Bpe

  /** Learned quality classifier: train in-engine on weak labels, score
    * the corpus in one zero-shuffle codegen pass.
    */
  val quality: operators.QualityFilter.type = operators.QualityFilter

  /** Multimodal: binary ingest → real ImageIO / javax.sound decode
    * (stub only for JVM-codecless types), feature extract, resize,
    * perceptual-hash near-dedup.
    */
  val multimodal: operators.Multimodal.type = operators.Multimodal

  /** Relational extras: as-of joins (backward/forward/tolerance). */
  val asof: operators.AsofJoin.type = operators.AsofJoin

  /** Skew weapons: salted aggregation and salted join for hot keys. */
  val skew: operators.Skew.type = operators.Skew

  /** Storage layout: Z-order and range-sort writes for scan locality. */
  val layout: operators.Layout.type = operators.Layout

  /** Sessionization (gap-based visits) over any keyed event relation. */
  val sessions: operators.Sessionize.type = operators.Sessionize

  /** Master-dataset store (Pail semantics): validated append ingest,
    * kind-partitioned scans, consolidate, snapshot claim — plus the
    * crash-safe [[model.StoreSwap]] two-rename swap protocol.
    */
  val store: model.FactStore.type = model.FactStore

  /** Serving-store swap (two-rename protocol; `_SUCCESS` is the only
    * commit evidence) and the committed-version probe.
    */
  val swap: model.StoreSwap.type = model.StoreSwap

  /** Versioned serving roots for REBUILD-WHILE-SERVING (r15 — the
    * ElephantDB shard-version flip): `stage` builds the next version
    * into a fresh dir while the current one serves, `flip` commits the
    * pointer atomically (StoreSwap two-rename), `resolve` is the
    * reader's entry point, `dropSuperseded` the cleanup (grace-ledgered
    * by default: safe to automate mid-serving). The
    * retrain/reshard path both index `build`s refuse in place; compose
    * with `append(batchId = …)` for the catch-up replay that closes a
    * rebuild's in-flight-batch gap (`index_rebuild_catchup`).
    */
  val serving: model.ServingPointer.type = model.ServingPointer

  /** Speed-layer label store for streaming connected components: a
    * bucket-partitioned level store, each fold appends only the changed
    * labels; lookup() is the bucket-pruned canonical-id point read.
    */
  val labels: streaming.LabelStore.type = streaming.LabelStore

  /** Streamed upsert store: each fold appends one level under a batch
    * id, reads resolve latest-per-key (tombstone deletes), lookup() is
    * the bucket-pruned per-key get (the ElephantDB random-read role),
    * maintain() compacts the levels to the live rows.
    */
  val upserts: streaming.UpsertStore.type = streaming.UpsertStore

  /** Mergeable sketches: HLL (uniques), KLL (quantiles), Theta (set
    * algebra) via Spark/DataSketches functions; Misra-Gries heavy
    * hitters and Count-Min frequencies as typed Aggregators with
    * codegen readouts.
    */
  val sketches: functions.FreqSketch.type = functions.FreqSketch

  /** Map-side-combinable top-k heap aggregator (the skew-proof
    * alternative to a per-key row_number window).
    */
  val topK: functions.TopKAgg.type = functions.TopKAgg

  // ---- flagship-flow forwarders

  /** Near-duplicate PAIRS of a (doc_id, text) corpus at a shingle-
    * Jaccard threshold: MinHash-LSH banded candidates, exact verify —
    * every emitted pair is truly above threshold; only recall is
    * approximate (tracked per round in RECALL_r{N}.json).
    */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    operators.NearDedup.minhashNearDups(docs, threshold)

  /** Apply dedup pairs to the corpus: cluster pairs via connected
    * components, keep the min-id canonical document per cluster.
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = operators.GraphOps.connectedComponents(
      pairs.select(col(pairs.columns(0)).as("src"),
        col(pairs.columns(1)).as("dst")))
    docs.join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
      .where(col("label").isNull || col("label") === col("doc_id"))
      .drop("label")
  }

  /** [[dropNearDuplicates]] with a caller-chosen survivor: per dup
    * cluster keep the row MAXIMIZING `priority` (ties → smallest
    * doc_id) instead of the min-id canonical — the production stance
    * when duplicates differ in quality (keep the cleanest crawl of a
    * page, not the first-seen). The per-cluster argmax is a map-side-
    * combinable max-of-struct aggregate, not a per-cluster window — a
    * boilerplate mega-cluster costs its row count, never a single-task
    * sort.
    */
  def dropNearDuplicatesBy(docs: DataFrame, pairs: DataFrame,
      priority: Column): DataFrame = {
    import org.apache.spark.sql.functions.{max, struct}
    val cc = operators.GraphOps.connectedComponents(
      pairs.select(col(pairs.columns(0)).as("src"),
        col(pairs.columns(1)).as("dst")))
    val labeled = docs.join(cc.withColumnRenamed("node", "doc_id"),
      Seq("doc_id"), "left_outer")
    val clustered = labeled.where(col("label").isNotNull)
    val keep = clustered
      .groupBy("label")
      .agg(max(struct(priority.as("p"), (-col("doc_id")).as("negid"))).as("best"))
      .select((-col("best.negid")).as("doc_id"))
    labeled.where(col("label").isNull).drop("label")
      .unionByName(clustered.join(keep, "doc_id").drop("label"))
  }

  /** Embedding near-duplicate pairs at a cosine threshold: SRP-LSH
    * banded candidates + exact cosine verify (the scale form of the
    * all-pairs join). The recall-targeted embedding-dedup path.
    */
  def cosineNearDupPairs(spark: SparkSession, emb: DataFrame,
      threshold: Double): DataFrame =
    operators.VectorOps.cosineNearDupLsh(spark, emb, threshold)

  /** SEMANTIC near-duplicate pairs (SemDeDup family): cluster-scoped
    * exact-cosine dedup on k-means cells — the throughput-targeted
    * embedding-dedup path (candidate volume Σ|cell|², no code
    * replicas). Routes to MULTI-ASSIGNMENT (each vector in its 2
    * nearest cells — recall 0.90 vs the exact form, vs 0.53 for single
    * assignment, RECALL_r10.json) — pass `nAssign = 1` explicitly only
    * when the 2× candidate volume matters more than Voronoi-boundary
    * pairs. Every emitted pair is exact-cosine verified.
    */
  def semanticNearDupPairs(spark: SparkSession, emb: DataFrame,
      threshold: Double, nAssign: Int = 2): DataFrame =
    operators.VectorOps.cosineNearDupSemantic(spark, emb, threshold,
      nAssign = nAssign)

  /** In-query ANN top-k over an embedding corpus (IVF + residual PQ —
    * the production composition; exact cosines on the emitted rows).
    * For repeated serving, build a persistent index via [[index]]
    * instead.
    */
  def annTopK(spark: SparkSession, emb: DataFrame, probeFilter: Column,
      k: Int, nProbe: Int = 8, rerank: Int = 8): DataFrame =
    operators.VectorOps.annIvfPq(spark, emb, probeFilter, k,
      nProbe = nProbe, rerank = rerank)

  /** Hybrid lexical+vector retrieval fused by reciprocal rank (RRF):
    * BM25 over `docs` against `qTerms` fused with cosine similarity to
    * doc `probeId`'s embedding — the standard two-branch serving shape.
    * Constant-size fusion work regardless of corpus size; see
    * [[operators.VectorOps.hybridSearchRrf]].
    */
  def hybridSearch(docs: DataFrame, emb: DataFrame, qTerms: Seq[String],
      probeId: Long, k: Int = 10): DataFrame =
    operators.VectorOps.hybridSearchRrf(docs, emb, qTerms, probeId, k = k)

  /** BATCH hybrid serving — the production request shape (a search tier
    * answers request batches, not one query at a time): N
    * (qid, terms, probe-id) requests fused per qid, the lexical branch
    * served from the persistent posting-list index at `lexDir` in ONE
    * partition-pruned scan for the whole batch and the exact semantic
    * branch in one corpus scan against the broadcast probe set. Each
    * request's block is byte-identical to serving it alone. See
    * [[operators.VectorOps.hybridSearchBatch]]; for both branches
    * index-served (one pruned codes scan for all probes) use
    * [[operators.VectorOps.hybridSearchAnnBatch]].
    */
  def hybridSearchBatch(spark: SparkSession, lexDir: String,
      emb: DataFrame, requests: Seq[(Int, Seq[String], Long)],
      k: Int = 10): DataFrame =
    operators.VectorOps.hybridSearchBatch(spark, lexDir, emb, requests, k = k)

  /** Rebuild a pointer-managed serving root and flip: stage the next
    * version via `build` (into a fresh, reader-invisible dir — the old
    * version serves throughout), then commit the pointer atomically.
    * Returns the new version number. The superseded version stays on
    * disk for rollback; [[model.ServingPointer.dropSuperseded]] is the
    * cleanup (its default grace ledger keeps the previous version for
    * in-flight readers). For rebuilds from a snapshot while appends keep
    * landing, replay the recent log into the staged dir (batchId
    * idempotence no-ops contained batches) BEFORE calling flip — see
    * `index_rebuild_catchup`.
    */
  def rebuildAndFlip(spark: SparkSession, root: String)
      (build: String => Unit): Long = {
    val v = model.ServingPointer.stage(spark, root)(build)
    model.ServingPointer.flip(spark, root, v)
    v
  }
}
