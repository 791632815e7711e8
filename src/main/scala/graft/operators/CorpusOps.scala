package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.withOracle
import graft.functions.TextFunctions._
import graft.functions.TimeFunctions.fdiv
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators a large-scale training-data pipeline
  * runs after cleaning (SURVEY.md §2.9 extensions, not in the reference):
  * train/eval contamination checks, stratified sampling, token-budget
  * shard packing, and embedding quantization/centroids.
  *
  * Scale notes are per operator; the common rule is the same as the rest
  * of the engine — shuffle-based group/join shapes only, no driver-side
  * data, skew guarded where a key can be hot.
  */
object CorpusOps {

  /** Tokens per training shard for `shard_pack` (small so the test corpus
    * spans multiple shards; production would use ~100M-token shards).
    */
  val ShardBudget = 10000L

  /** Per-language token budget for `sample_token_budget` (small so the
    * cut engages on the test corpus; production budgets are per-source
    * token targets from the training mixture spec).
    */
  val MixBudget = 5000L

  /** Training-sequence length for `pack_sequences` (small so documents
    * span sequence boundaries on the test corpus; production uses the
    * model's context length, e.g. 2048-8192).
    */
  val SeqLen = 512L

  /** Temperature exponent for `corpus_mix_temperature` (0.7 — the
    * conventional multilingual up-sampling point).
    */
  val MixAlpha = 0.7

  /** Target domain for `sample_importance` (the fixture source standing
    * in for DSIR's high-quality target corpus; production points this at
    * a curated reference set).
    */
  val DsirTarget = "src0"

  /** Sample size for `sample_importance` (small so the cut engages on the
    * test corpus; production K is the token/doc budget of the mixture).
    */
  val DsirK = 100

  /** [[importanceSample]]'s frequency floor and broadcast guard. */
  val DsirMinCount = 2
  val DsirMaxVocab = 5000000L

  /** DSIR-style importance scoring + top-K selection (Xie et al.,
    * NeurIPS'23 "Data Selection for Language Models via Importance
    * Resampling"): score every doc by its mean per-token log-likelihood
    * ratio between a TARGET unigram model (docs where `isTarget`) and the
    * RAW model (the whole pool), then keep the K most target-like docs.
    * DSIR samples with probability ∝ exp(ratio); this is the
    * deterministic top-K variant (argmax selection), mean rather than sum
    * per token so length is not a confound — both standard knobs on the
    * same estimator.
    *
    * Model semantics (part of the operator contract, mirrored verbatim in
    * the oracle): counts below [[DsirMinCount]] (2) floor to
    * 0 in BOTH models — the hashed-feature-style variance bound DSIR gets
    * from bucketing, taken here as an explicit frequency floor — and both
    * models add-1 smooth over the shared floored vocabulary V, so a
    * target-unseen token contributes ln(1/(Nt+V)) rather than -inf.
    *
    * Scale: the model relation is ONE map-side-combinable aggregate over
    * the token stream carrying both counts (never two corpus scans); the
    * floor bounds it to the frequent-type vocabulary, broadcast to the
    * scoring join until [[DsirMaxVocab]] (5M types) demotes
    * it to a shuffle join (the unigramLogprob r8 hardening, applied from
    * birth). Selection is top-K by (rounded score, doc_id) — a
    * TakeOrderedAndProject, ≤K rows per task, never a global sort.
    */
  def importanceSample(docs: org.apache.spark.sql.DataFrame,
      isTarget: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col("doc_id"), col("source"), isTarget.as("is_t"),
      explode(tokens(col("text"))).as("t"))
    val vc = tok.groupBy("t")
      .agg(count(lit(1)).as("crRaw"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ctRaw"))
      .where(col("crRaw") >= DsirMinCount)
      .select(col("t"), col("crRaw").as("cr"),
        when(col("ctRaw") >= DsirMinCount, col("ctRaw")).otherwise(lit(0L)).as("ct"))
    // one tiny action for the three model constants; null on an
    // empty/all-blank corpus (sum over zero rows) — the result is empty
    // either way, but the smoothing denominators must stay positive
    val stats = vc.agg(sum("cr").as("nr"), sum("ct").as("nt"),
      count(lit(1)).as("v")).head()
    val v = stats.getLong(2)
    val nrV = math.max((if (stats.isNullAt(0)) 0L else stats.getLong(0)) + v, 1L).toDouble
    val ntV = math.max((if (stats.isNullAt(1)) 0L else stats.getLong(1)) + v, 1L).toDouble
    val vcSide = if (v <= DsirMaxVocab) broadcast(vc) else vc
    tok.join(vcSide, Seq("t"), "left_outer")
      .groupBy("doc_id", "source")
      .agg(round(avg(
        log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / lit(ntV)) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / lit(nrV))), 4).as("logratio"))
      .orderBy(col("logratio").desc, col("doc_id"))
      .limit(k)
  }

  /** Temperature-scaled mixture weights over a (source, n_tokens)
    * aggregate — see the `corpus_mix_temperature` entry. Input is the
    * already-aggregated per-source token totals (sources-sized), so
    * every window below runs over that tiny relation.
    */
  def mixTemperature(sourceTokens: org.apache.spark.sql.DataFrame,
      alpha: Double): org.apache.spark.sql.DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sourceTokens
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens") / sum("n_tokens").over(w), 6).as("p"),
        round(pow(col("n_tokens"), alpha) /
          sum(pow(col("n_tokens"), alpha)).over(w), 6).as("q"),
        round((pow(col("n_tokens"), alpha) /
          sum(pow(col("n_tokens"), alpha)).over(w)) /
          (col("n_tokens") / sum("n_tokens").over(w)), 6).as("weight"))
  }

  /** Containment pairs (eval_id, train_id, containment) between the eval
    * split (rows matching `isEval`) and the rest, over a (doc_id, text)
    * relation: containment = |shared 3-shingles| / |eval shingles|.
    */
  def contaminationPairs(docs: org.apache.spark.sql.DataFrame,
      isEval: org.apache.spark.sql.Column,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val sh = docs
      .select(col("doc_id"), isEval.as("is_eval"),
        explode(shingleHashes(col("text"), 3)).as("s"))
      // serialized + spillable — see the NearDedup/TextOps cache notes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val ev = sh.where(col("is_eval"))
      val tr = sh.where(!col("is_eval"))
      val ne = ev.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // eval is a benchmark suite — broadcast it so the train-side shingle
      // relation streams past the hash set without shuffling (the scale
      // argument on the query entry; the hint makes the plan match it)
      val inter = broadcast(ev.select(col("doc_id").as("eval_id"), col("s")))
        .join(tr.select(col("doc_id").as("train_id"), col("s")), "s")
        .groupBy("eval_id", "train_id").agg(count(lit(1)).as("c"))
      inter
        .join(ne.select(col("doc_id").as("eval_id"), col("n")), "eval_id")
        .withColumn("containment", col("c") / col("n").cast("double"))
        .where(col("containment") >= threshold)
        .select(col("eval_id"), col("train_id"),
          round(col("containment"), 4).as("containment"))
        .localCheckpoint() // materialize the small result, then free the cache
    } finally sh.unpersist()
  }

  /** The REMOVAL action [[contaminationPairs]] drives (the decontamination
    * step of training-set construction, Brown et al. 2020 Appendix C
    * shape): keep every train-side doc whose containment against EVERY
    * eval doc stays below `threshold`; eval rows themselves are not part
    * of the training output. Returns the surviving train docs with all
    * their columns.
    *
    * Scale: the flagged set is contaminated train IDS — tiny by
    * construction (benchmark-overlapping docs) — so the final anti-join
    * broadcasts it and the corpus never shuffles; the pair machinery
    * inherits contaminationPairs' broadcast-eval shape.
    */
  def decontaminate(docs: org.apache.spark.sql.DataFrame,
      isEval: org.apache.spark.sql.Column,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val flagged = contaminationPairs(docs, isEval, threshold)
      .select(col("train_id").as("_flagged_id")).distinct()
    // NOT eval via three-valued logic: a row whose eval predicate is NULL
    // (e.g. null doc_id under `doc_id % 11 = 0`) is neither train nor
    // eval — dropped, matching the SQL WHERE semantics of the oracle.
    // The anti-join is NULL-SAFE (<=>): with an isEval predicate not
    // keyed on doc_id, a contaminated train doc with a null id flags as
    // train_id = NULL, and a null-rejecting equality would silently keep
    // it in the training output (null ids are indistinguishable, so all
    // of them drop together once any is flagged — the only sound
    // semantics for a null join key).
    docs.where(!isEval)
      .join(broadcast(flagged), col("doc_id") <=> col("_flagged_id"), "left_anti")
  }

  /** Distributed exact prefix-sum shard assignment over a
    * (doc_id, n_tokens) relation — see the `shard_pack` entry for the
    * scale argument. `parts` is the range-partition width; the result is
    * independent of it (asserted by CorpusOpsSpec).
    */
  def shardPack(docTokens: org.apache.spark.sql.DataFrame, budget: Long,
      parts: Int = 32): org.apache.spark.sql.DataFrame =
    globalTokenOffsets(docTokens, parts)
      .select(col("doc_id"), col("n_tokens"),
        fdiv(col("start"), budget).as("shard_id"))

  /** Exact global token offset of each doc in doc_id order:
    * (doc_id, n_tokens, start) where `start` = Σ n_tokens of all earlier
    * doc_ids — the primitive under `shard_pack` and `pack_sequences`.
    * Distributed exactly as documented on shardPack; result independent
    * of `parts` (asserted by CorpusOpsSpec).
    */
  def globalTokenOffsets(docTokens: org.apache.spark.sql.DataFrame,
      parts: Int = 32): org.apache.spark.sql.DataFrame = {
    val s = docTokens.sparkSession
    import s.implicits._
    // ONE wide exchange: sampled contiguous doc_id ranges. The local
    // running sum is a narrow mapPartitions pass over the sorted
    // partitions — a window partitionBy(partition-id) would re-shuffle
    // the corpus a second time (Catalyst can't see that the range layout
    // already clusters by partition id). This is the rare per-partition
    // imperative case where mapPartitions beats the declarative form.
    val local = docTokens
      // null ids/counts cannot pack (and would crash the primitive-tuple
      // encoder): a null-text doc has no tokens — drop it, like the
      // pretraining funnel's quality gate does upstream
      .where(col("doc_id").isNotNull && col("n_tokens").isNotNull)
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"))
      .as[(Long, Long)]
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = 0L
        it.map { case (id, n) => cum += n; (id, n, pid, cum) }
      }.toDF("doc_id", "n_tokens", "pid", "lcum")
      // materialized ONCE before feeding both the offset aggregate and the
      // final join: the MapPartitions closure defeats plan canonicalization,
      // so without this the range exchange executes twice (corpus shuffled
      // twice) — and two independently sampled range partitionings are not
      // even guaranteed the same pid boundaries the offsets join relies on
      .localCheckpoint()
    // per-partition totals: #partitions rows — the tiny driver-scale side
    val offW = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("pid").agg(sum("n_tokens").as("ptot"))
      .withColumn("offset", coalesce(sum("ptot").over(offW), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .select(col("doc_id"), col("n_tokens"),
        (col("offset") + col("lcum") - col("n_tokens")).as("start"))
  }

  /** Distributed per-stratum prefix aggregates over a (doc_id, lang, v)
    * relation, ordered inside each stratum by (md5(doc_id), doc_id):
    * returns (doc_id, lang, v, rank, cum) where `rank` is the 1-based
    * position and `cum` the inclusive running sum of `v` in that order.
    *
    * This is the `shardPack` prefix-sum pattern keyed by stratum, and it
    * exists because the obvious form — `Window.partitionBy("lang")` —
    * hash-shuffles EVERY row of a language into a single task for the
    * rank/cumsum. On a pretraining corpus where one language is half the
    * data, that is a one-task sort of half the corpus. Here instead:
    * ONE wide exchange range-partitions on (lang, hash, doc_id) — a
    * skewed stratum spreads over many contiguous partitions — the running
    * sums are a narrow per-partition pass, and partials are globalized by
    * a broadcast offset table with one row per (partition, stratum-run).
    * No stage ever holds a whole stratum in one task (PlanSpec-pinned).
    *
    * `local` is materialized (localCheckpoint) before feeding both the
    * offset aggregate and the final join: partition ids must be the SAME
    * instantiation on both sides — recomputing the range exchange could
    * resample its boundaries, misaligning offsets with local ranks.
    */
  def stratumPrefix(docs: org.apache.spark.sql.DataFrame,
      parts: Int = 32): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // a NULL stratum is a legal group (the SQL-window form this replaces
    // ranks NULLs together): route it through a sentinel — the offsets
    // equi-join below is null-rejecting and would otherwise silently
    // drop every null-stratum row — and restore null on the way out
    val nullStratum = "\u0000<null-stratum>"
    val local = docs
      .where(col("doc_id").isNotNull && col("v").isNotNull)
      .select(col("doc_id").cast("long"),
        coalesce(col("lang").cast("string"), lit(nullStratum)).as("lang"),
        md5(col("doc_id").cast("string")).as("hk"), col("v").cast("long"))
      .as[(Long, String, String, Long)]
      .repartitionByRange(parts, col("lang"), col("hk"), col("doc_id"))
      .sortWithinPartitions("lang", "hk", "doc_id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var started = false
        var rank = 0L
        var cum = 0L
        it.map { case (id, lang, _, v) =>
          if (!started || lang != cur) { cur = lang; started = true; rank = 0L; cum = 0L }
          rank += 1; cum += v
          (id, lang, v, pid, rank, cum)
        }
      }.toDF("doc_id", "lang", "v", "pid", "lrank", "lcum")
      .localCheckpoint()
    // offsets: one row per (partition, stratum) — O(cluster width × langs),
    // the tiny side; the per-lang window below runs over THAT, not the data
    val offW = Window.partitionBy("lang").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("pid", "lang")
      .agg(count(lit(1)).as("pn"), sum("v").as("pv"))
      .withColumn("offn", coalesce(sum("pn").over(offW), lit(0L)))
      .withColumn("offv", coalesce(sum("pv").over(offW), lit(0L)))
      .select("pid", "lang", "offn", "offv")
    local.join(broadcast(offsets), Seq("pid", "lang"))
      .select(col("doc_id"),
        when(col("lang") === nullStratum, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"),
        col("v"),
        (col("offn") + col("lrank")).as("rank"),
        (col("offv") + col("lcum")).as("cum"))
  }

  /** Per-stratum rank under an arbitrary NUMERIC order key: returns
    * (doc_id, lang, ord, rank, n) where `rank` is the 1-based position
    * of the row inside its stratum ordered by (ord, doc_id) and `n` the
    * stratum size. The [[stratumPrefix]] distributed-prefix shape
    * (range exchange + per-partition pass + broadcast offset table)
    * with the md5 shuffle key swapped for a caller-supplied double —
    * stratumPrefix's String key can't carry a numeric sort order. Same
    * skew story: a stratum that is half the corpus spreads over many
    * contiguous range partitions; no task ever holds a whole stratum.
    */
  def orderedStratumRank(rel: org.apache.spark.sql.DataFrame,
      parts: Int = 32): org.apache.spark.sql.DataFrame = {
    val s = rel.sparkSession
    import s.implicits._
    val nullStratum = "\u0000<null-stratum>"
    val local = rel
      .where(col("doc_id").isNotNull && col("ord").isNotNull)
      .select(col("doc_id").cast("long"),
        coalesce(col("lang").cast("string"), lit(nullStratum)).as("lang"),
        col("ord").cast("double"))
      .as[(Long, String, Double)]
      .repartitionByRange(parts, col("lang"), col("ord"), col("doc_id"))
      .sortWithinPartitions("lang", "ord", "doc_id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var started = false
        var rank = 0L
        it.map { case (id, lang, ord) =>
          if (!started || lang != cur) { cur = lang; started = true; rank = 0L }
          rank += 1
          (id, lang, ord, pid, rank)
        }
      }.toDF("doc_id", "lang", "ord", "pid", "lrank")
      // same materialization argument as stratumPrefix: both consumers
      // must see ONE instantiation of the range exchange's partition ids
      .localCheckpoint()
    val offW = Window.partitionBy("lang").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("pid", "lang").agg(count(lit(1)).as("pn"))
      .withColumn("offn", coalesce(sum("pn").over(offW), lit(0L)))
      .withColumn("n", sum("pn").over(Window.partitionBy("lang")))
      .select("pid", "lang", "offn", "n")
    local.join(broadcast(offsets), Seq("pid", "lang"))
      .select(col("doc_id"),
        when(col("lang") === nullStratum, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"),
        col("ord"),
        (col("offn") + col("lrank")).as("rank"), col("n"))
  }

  /** CCNet-style per-language perplexity split (Wenzek et al. 2020 §4.3):
    * rank each language's documents by LM score (low NLL = common-word,
    * high = rare/noisy) and cut the ranking into `k` equal ntile buckets
    * — bucket 1 is CCNet's "head", k its "tail"; pipelines train on
    * head+middle and drop or down-weight the tail. Per-LANGUAGE because
    * NLL magnitudes aren't comparable across languages (different token
    * inventories); splitting globally would crown whichever language the
    * LM likes best.
    *
    * The bucket is EXACT ntile semantics (first n%k buckets get one
    * extra row, order (nll, doc_id)) computed in closed form from the
    * [[orderedStratumRank]] global rank — NOT a
    * `Window.partitionBy(lang)`, which would sort half the corpus in one
    * task under the documented language skew. One range exchange over
    * (lang, nll, doc_id) + a broadcast offset table; exact at any scale,
    * no approximation path needed.
    */
  def pplSplit(docs: org.apache.spark.sql.DataFrame, k: Int = 3,
      parts: Int = 32): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"pplSplit needs k >= 1 buckets, got $k")
    val scored = TextOps.unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val ranked = orderedStratumRank(
      scored.select(col("doc_id"), col("lang"), col("nll").as("ord")), parts)
    // ntile(k) in closed form: q = n / k rows per bucket, the first
    // r = n mod k buckets carry one extra. greatest(q, 1) keeps the
    // otherwise-branch division total; it is only REACHED when q >= 1
    // (q = 0 implies r = n, so every rank falls in the when-branch).
    val q = floor(col("n") / k).cast("long")
    val r = col("n") - q * k
    val bucket = when(col("rank") <= r * (q + 1),
        floor((col("rank") - 1) / (q + 1)) + 1)
      .otherwise(r + floor((col("rank") - 1 - r * (q + 1)) / greatest(q, lit(1L))) + 1)
    ranked.select(col("doc_id"), col("lang"), col("ord").as("nll"),
      bucket.cast("long").as("bucket"))
  }

  /** Documents kept per source by `corpus_source_cap` (small so the cap
    * engages on the 25-docs-per-source test corpus; production caps are
    * per-registrable-domain budgets, e.g. RefinedWeb's anti-dominance
    * limits).
    */
  val SourceCap = 10L

  /** Per-source document cap (the domain-dominance guard of crawl
    * pipelines, RefinedWeb/C4 shape): keep the `cap` BEST-scored docs of
    * each source — score = unigram-LM NLL ascending (common-word text
    * first), ties on doc_id — so one mega-domain can't crowd the corpus.
    * Emits the survivors with their score and within-source rank.
    *
    * Scale: same [[orderedStratumRank]] distributed prefix as
    * `corpus_ppl_split` keyed by source — the dominant domain spreads
    * over many range partitions instead of sorting in one task — and the
    * cap is a row-local filter after the broadcast offsets join.
    */
  def sourceCap(docs: org.apache.spark.sql.DataFrame, cap: Long,
      parts: Int = 32): org.apache.spark.sql.DataFrame = {
    require(cap >= 1, s"sourceCap needs cap >= 1, got $cap")
    val scored = TextOps.unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    orderedStratumRank(
        scored.select(col("doc_id"), col("source").as("lang"),
          col("nll").as("ord")), parts)
      .where(col("rank") <= cap)
      .select(col("doc_id"), col("lang").as("source"),
        col("ord").as("nll"), col("rank"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Benchmark-contamination check: which training documents share an
    // outsized fraction of an evaluation document's 3-shingles? The
    // bipartite form of the exact sparse similarity join — containment
    // (inter / |eval shingles|), not Jaccard, because a benchmark item
    // embedded inside a larger train doc must still flag. Eval set here =
    // doc_id % 11 == 0 (a held-out-benchmark stand-in on the test corpus).
    //
    // Scale: the eval side is a benchmark suite — millions of shingles at
    // most, broadcastable; the join then never shuffles the train corpus
    // (the shingle relation streams past the broadcast hash set). Hot
    // boilerplate shingles bound the per-key fan-out exactly as in
    // text_ngram_jaccard; the thresholded result is tiny.
    withOracle(
      "contamination_check",
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-2, 0))) AS i) g),
        |ev AS (SELECT doc_id, s FROM sh WHERE doc_id % 11 = 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 11 <> 0),
        |ne AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY doc_id),
        |inter AS (SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id, count(*) AS c
        |          FROM ev JOIN tr ON ev.s = tr.s GROUP BY 1, 2)
        |SELECT eval_id, train_id, round(c * 1.0 / n, 4) AS containment
        |FROM inter JOIN ne ON eval_id = ne.doc_id
        |WHERE c * 1.0 / n >= 0.1
        |ORDER BY eval_id, train_id""".stripMargin) { (s, dir) =>
      contaminationPairs(Tables.documents(s, dir),
        col("doc_id") % 11 === 0, threshold = 0.1)
        .orderBy("eval_id", "train_id")
    },

    // The removal action contamination_check drives: the training set
    // with benchmark-contaminated docs DROPPED (containment >= 0.1
    // against any eval doc), eval rows excluded. Same shingle/containment
    // machinery; the flagged set is tiny so the final anti-join
    // broadcasts and the corpus never shuffles.
    withOracle(
      "text_decontaminate",
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-2, 0))) AS i) g),
        |ev AS (SELECT doc_id, s FROM sh WHERE doc_id % 11 = 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 11 <> 0),
        |ne AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY doc_id),
        |inter AS (SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id, count(*) AS c
        |          FROM ev JOIN tr ON ev.s = tr.s GROUP BY 1, 2),
        |flagged AS (SELECT DISTINCT train_id FROM inter JOIN ne ON eval_id = ne.doc_id
        |            WHERE c * 1.0 / n >= 0.1)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 11 <> 0
        |  AND doc_id NOT IN (SELECT train_id FROM flagged)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      decontaminate(Tables.documents(s, dir),
        col("doc_id") % 11 === 0, threshold = 0.1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Deterministic stratified sample: ceil(10%) per language, selection
    // ordered by a per-doc hash (md5 of the id) so the sample is stable
    // across runs, partitionings, and engines — no RNG state anywhere.
    //
    // Scale: the per-stratum rank comes from the distributed prefix sum
    // (`stratumPrefix`) — one range exchange over the data, never a whole
    // stratum through one task — and the per-stratum totals for the quota
    // are a map-side-combined aggregate broadcast back (langs-sized).
    withOracle(
      "sample_stratified",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE doc_id IS NOT NULL)
        |WHERE rn <= (n + 9) // 10
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val ranked = stratumPrefix(docs.withColumn("v", lit(1L)))
      // per-stratum totals from the prefix pass itself (max rank = stratum
      // size over the checkpointed relation) — NOT a second corpus scan;
      // null-safe join so a NULL stratum keeps its quota row
      val langN = ranked.groupBy("lang").agg(max("rank").as("n"))
        .withColumnRenamed("lang", "lang_n")
      ranked
        .join(broadcast(langN), col("lang") <=> col("lang_n"))
        .where(col("rank") <= fdiv(col("n") + 9, 10L)) // exact integer ceil(n/10)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Training-mixture sampling by TOKEN budget: per language, take docs
    // in deterministic hash order until the stratum's token budget is
    // spent — the "mix N tokens of each source" step of corpus
    // construction (sample_stratified's quota is per-DOC; mixtures are
    // specified in tokens).
    //
    // Scale: the per-stratum cumulative sum is the distributed prefix sum
    // (`stratumPrefix`), ordered by a per-doc hash so the selection is
    // stable across runs/partitionings — one range exchange over the
    // data, never a mega-stratum sorted in one task.
    withOracle(
      "sample_token_budget",
      s"""WITH t AS (SELECT doc_id, lang,
         |             len(string_split_regex(lower(text), '\\s+')) AS n_tokens
         |           FROM documents
         |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |r AS (SELECT doc_id, lang, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang
         |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS cum
         |FROM r WHERE cum <= ${MixBudget}
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("v"))
      stratumPrefix(docs)
        .where(col("cum") <= MixBudget)
        .select(col("doc_id"), col("lang"), col("v").as("n_tokens"), col("cum"))
        .orderBy("doc_id")
    },

    // Weighted sampling without replacement (Efraimidis & Spirakis,
    // IPL'06): each doc draws priority u^(1/w) from a DETERMINISTIC
    // hash-uniform u (48 md5 bits of the doc id — no RNG state, so
    // re-runs, engines, and partitionings all agree) with w = n_chars,
    // and the sample is the global top-k by priority — longer docs
    // proportionally likelier, exactly the length-weighted corpus
    // sampling a mixture builder wants. Scale: priorities are row-local
    // and the top-k executes as TakeOrderedAndProject (map-side k rows
    // per task), never a global sort. round(12) snaps the ranking key
    // to a shared grid before comparison (the pageRank discipline:
    // libm pow may differ in the last ulp across engines).
    withOracle(
      "sample_weighted",
      """WITH pr AS (
        |  SELECT doc_id, lang, n_chars,
        |         round(pow((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) + 0.5)
        |                   / 281474976710656.0, 1.0 / n_chars), 12) AS priority
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, priority
        |FROM pr ORDER BY priority DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      // u in (0,1) from the first 12 md5 nibbles: (h + 0.5) / 16^12
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long") + lit(0.5)) / lit(281474976710656.0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(pow(u, lit(1.0) / col("n_chars")), 12).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(20)
    },

    // DSIR-style importance selection (Xie et al., NeurIPS'23): keep the
    // DsirK docs whose unigram distribution best matches the TARGET
    // domain (DsirTarget stands in for the curated reference corpus) by
    // mean per-token log-ratio between the target and raw LMs — the
    // distribution-matching data-selection step between quality
    // filtering (per-doc rules) and mixture sampling (per-source
    // quotas): it ranks the POOL by target-likeness. Floors/smoothing
    // are part of the contract — see importanceSample.
    //
    // Scale: one token-stream aggregate carrying both model counts,
    // vocab-floored + broadcast-until-maxVocab score join, top-K as
    // TakeOrderedAndProject (pinned in PlanSpec).
    withOracle(
      "sample_importance",
      s"""WITH tok AS (SELECT doc_id, source,
         |               unnest(string_split_regex(lower(text), '\\s+')) AS t
         |             FROM documents),
         |vc AS (SELECT t, count(*) AS cr,
         |         CASE WHEN sum(CASE WHEN source = '${DsirTarget}' THEN 1 ELSE 0 END) >= 2
         |              THEN sum(CASE WHEN source = '${DsirTarget}' THEN 1 ELSE 0 END)
         |              ELSE 0 END AS ct
         |       FROM tok GROUP BY t HAVING count(*) >= 2),
         |n AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM vc),
         |sc AS (SELECT tok.doc_id, tok.source,
         |         round(avg(ln((coalesce(ct, 0) + 1.0) / (nt + v))
         |                 - ln((coalesce(cr, 0) + 1.0) / (nr + v))), 4) AS logratio
         |       FROM tok LEFT JOIN vc USING (t) CROSS JOIN n
         |       GROUP BY tok.doc_id, tok.source)
         |SELECT doc_id, source, logratio
         |FROM sc ORDER BY logratio DESC, doc_id LIMIT ${DsirK}""".stripMargin) { (s, dir) =>
      importanceSample(Tables.documents(s, dir), col("source") === DsirTarget, DsirK)
    },

    // Token-budget shard packing: assign each doc (in doc_id order) to the
    // training shard its starting token offset falls in — the "write
    // ~equal-token shards" step before tokenizer workers pick them up.
    //
    // Scale: a single global running sum would execute as a one-partition
    // window — the classic collapse. This is the distributed prefix sum
    // instead: range-partition by doc_id, per-partition running sums, then
    // offset each partition by the (tiny, #partitions-sized) cumulative
    // totals of the partitions before it. The only single-partition window
    // runs over one row per partition — O(cluster width), not O(data).
    withOracle(
      "shard_pack",
      s"""SELECT doc_id, n_tokens,
         |       CAST((cum - n_tokens) // ${ShardBudget} AS BIGINT) AS shard_id
         |FROM (
         |  SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         |         sum(len(string_split_regex(lower(text), '\\s+'))) OVER (
         |           ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      shardPack(docs, ShardBudget).orderBy("doc_id")
    },

    // Fixed-length sequence packing: concatenate the corpus token stream
    // in doc_id order and cut it every SeqLen tokens — each doc reports
    // the first/last training sequence it lands in and how many it spans
    // (GPT-style concat-and-chunk packing; docs cross boundaries rather
    // than pad). seq_first/seq_last are exact functions of the doc's
    // global token offset, so downstream tokenizer workers can emit their
    // sequences without any coordination.
    //
    // Scale: the global offset is the same distributed prefix sum as
    // shard_pack (one range exchange; the only single-partition window is
    // over one row per partition) — never a corpus-wide one-task cumsum.
    withOracle(
      "pack_sequences",
      s"""SELECT doc_id, n_tokens,
         |       CAST((cum - n_tokens) // ${SeqLen} AS BIGINT) AS seq_first,
         |       CAST((cum - 1) // ${SeqLen} AS BIGINT) AS seq_last,
         |       CAST((cum - 1) // ${SeqLen} - (cum - n_tokens) // ${SeqLen} + 1
         |            AS BIGINT) AS n_seqs
         |FROM (
         |  SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         |         sum(len(string_split_regex(lower(text), '\\s+'))) OVER (
         |           ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      globalTokenOffsets(docs)
        .select(col("doc_id"), col("n_tokens"),
          fdiv(col("start"), SeqLen).as("seq_first"),
          fdiv(col("start") + col("n_tokens") - 1, SeqLen).as("seq_last"))
        .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
        .orderBy("doc_id")
    },

    // Global training-order shuffle: assign every doc a deterministic
    // pseudo-random shard and position — the "shuffle the corpus before
    // the data loader reads it" step. Shard = first md5 NIBBLE VALUE mod
    // 8 (uniform: 16 % 8 = 0 — the hex chars' ASCII codes are not
    // contiguous, so char codes would skew), order within shard =
    // (md5, doc_id) — no RNG state, so re-runs and engines agree;
    // shard_pack preserves doc order and packs by budget, this permutes.
    //
    // Scale: the within-shard position is the distributed per-stratum
    // prefix sum keyed by shard (`stratumPrefix`) — one range exchange,
    // never a whole shard ranked through one task.
    withOracle(
      "shard_shuffle",
      """SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id,
        |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT) % 8 AS shard
        |      FROM documents WHERE doc_id IS NOT NULL)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
            .cast("int") % 8).cast("string").as("lang"),
          lit(1L).as("v"))
      stratumPrefix(docs)
        .select(col("doc_id"), col("lang").cast("int").as("shard"),
          col("rank").as("pos"))
        .orderBy("doc_id")
    },

    // Deterministic train/validation/test split by content-free hash:
    // the first four md5 nibbles of the doc id bucket each row 80/10/10
    // (uniform to within 65536-mod-100 rounding, ~0.002%) with no RNG
    // state —
    // stable under re-runs, engines, and partitionings, and disjoint by
    // construction. Row-local (zero shuffles).
    withOracle(
      "split_train_eval",
      """SELECT split, count(*) AS n_docs FROM (
        |  SELECT CASE WHEN b < 80 THEN 'train'
        |              WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
        |  FROM (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS b
        |        FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      val b = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
      Tables.documents(s, dir)
        .select(when(b < 80, "train").when(b < 90, "valid").otherwise("test").as("split"))
        .groupBy("split").agg(count(lit(1)).as("n_docs"))
        .orderBy("split")
    },

    // Per-vector int8 quantization (min/max affine): the 4× memory cut
    // that makes billion-vector ANN serve from RAM. Declared as the
    // quantization *summary* (bounds + quantized-value checksum) so the
    // oracle stays exact; the quantized array itself is the same
    // transform() without the final aggregate.
    //
    // Scale: pure row-local map — no shuffle, embarrassingly parallel.
    withOracle(
      "embedding_quantize",
      """SELECT vec_id,
        |       round(mn, 4) + 0.0 AS minv, round(mx, 4) + 0.0 AS maxv,
        |       CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |            ELSE CAST(list_sum(list_transform(embedding,
        |                   x -> CAST(round((CAST(x AS DOUBLE) - mn) / sc) AS BIGINT)))
        |                 AS BIGINT) END AS qsum,
        |       len(embedding) AS n_dims
        |FROM (
        |  SELECT vec_id, embedding,
        |         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
        |         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
        |         (CAST(list_aggregate(embedding, 'max') AS DOUBLE)
        |          - CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255.0 AS sc
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val mn = array_min(col("embedding")).cast("double")
      val mx = array_max(col("embedding")).cast("double")
      val sc = (mx - mn) / lit(255.0)
      val q = transform(col("embedding"),
        x => round((x.cast("double") - mn) / sc).cast("long"))
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          // + 0.0 canonicalizes IEEE -0.0 after rounding (see centroid)
          (round(mn, 4) + 0.0).as("minv"), (round(mx, 4) + 0.0).as("maxv"),
          // empty embedding: DuckDB's list_sum([]) is NULL while Spark's
          // aggregate over [] returns the 0L seed — pin NULL on both sides
          when(size(col("embedding")) === 0, lit(null).cast("long"))
            .when(mx === mn, lit(0L))
            .otherwise(aggregate(q, lit(0L), (acc, x) => acc + x)).as("qsum"),
          size(col("embedding")).as("n_dims"))
        .orderBy("vec_id")
    },

    // Per-label centroid, one row per (label, dimension) — the k-means
    // seed / class-prototype aggregate over the embedding corpus.
    //
    // Scale: posexplode *looks* like a dims× blowup, but map-side partial
    // aggregation collapses each task's rows to (labels × dims) partials
    // before the exchange — the shuffle carries aggregates, not elements.
    withOracle(
      "embedding_centroid",
      """SELECT label, i - 1 AS pos,
        |       round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS c
        |FROM embeddings,
        |     LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        // + 0.0 canonicalizes IEEE -0.0 (a tiny negative mean rounds to
        // -0.0, which engines print differently) to +0.0 — oracle matches
        .agg((round(avg(col("x").cast("double")), 4) + 0.0).as("c"))
        .orderBy("label", "pos")
    },

    // Training-mixture weights: per source, the multiplicative sampling
    // weight that rebalances the corpus to a uniform token mixture
    // (weight = target token share / actual token share; >1 upsample,
    // <1 downsample). The mixture-spec step that feeds
    // sample_token_budget's per-stratum budgets.
    //
    // Scale: ONE map-side-combined aggregate over the corpus to
    // sources-sized partials; the totals come from a partitionless
    // window over that tiny aggregate (sources-count rows through one
    // task — the shard_pack offset-table pattern), so the corpus is
    // scanned once, not once per derived total.
    withOracle(
      "corpus_mix_weights",
      """WITH t AS (SELECT source, count(*) AS n_docs,
        |                  sum(len(string_split_regex(lower(text), '\s+'))) AS n_tokens
        |           FROM documents GROUP BY source)
        |SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(sum(n_tokens) OVER () * 1.0
        |             / (count(*) OVER () * n_tokens), 4) AS weight
        |FROM t ORDER BY source""".stripMargin) { (s, dir) =>
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(sum("n_tokens").over(w) / (count(lit(1)).over(w) * col("n_tokens")), 4)
            .as("weight"))
        .orderBy("source")
    },

    // Temperature-scaled mixture weights (the multilingual/multi-source
    // α-sampling standard, Lample & Conneau 2019 §3.1 shape): a source's
    // sampling share is its natural token share raised to α and
    // renormalized — α = 1 reproduces the natural mix, α → 0 the
    // uniform one; 0.7 is the conventional operating point that
    // up-samples tail sources without drowning the head. Emits natural
    // share p, temperature share q, and the multiplicative up/down-
    // sampling weight q/p that feeds sample_token_budget's per-source
    // budgets.
    //
    // Scale: identical to corpus_mix_weights — ONE map-side-combined
    // aggregate to sources-sized partials; every derived total is a
    // window over that tiny aggregate, so the corpus is scanned once.
    // pow crosses engines exactly enough for the shared 6dp grid (the
    // sample_weighted pageRank discipline, proven there at 12dp).
    withOracle(
      "corpus_mix_temperature",
      s"""WITH t AS (SELECT source,
        |             sum(len(string_split_regex(lower(text), '\\s+'))) AS n_tokens
        |           FROM documents GROUP BY source)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS p,
        |       round(pow(n_tokens, ${MixAlpha}) / sum(pow(n_tokens, ${MixAlpha})) OVER (), 6) AS q,
        |       round((pow(n_tokens, ${MixAlpha}) / sum(pow(n_tokens, ${MixAlpha})) OVER ())
        |             / (n_tokens * 1.0 / sum(n_tokens) OVER ()), 6) AS weight
        |FROM t ORDER BY source""".stripMargin) { (s, dir) =>
      mixTemperature(
        Tables.documents(s, dir)
          .groupBy("source")
          .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens")),
        MixAlpha)
        .orderBy("source")
    },

    // The feed order corpus_mix_weights implies: weighted-fair-queuing
    // interleave of sources into one global training stream. Each doc's
    // virtual finish time is rank_in_source / weight_source; with the
    // uniform-mixture weight w_s ∝ 1/n_tokens_s that is rank_s ·
    // n_tokens_s up to a shared constant — ALL-INTEGER, so the order is
    // engine-exact with no float grid. Small sources recycle faster
    // (their ranks scale by a smaller token total), so every prefix of
    // the stream holds the mixture's proportions — the property a
    // curriculum-free data loader wants from epoch 0. Scale: per-source
    // md5 rank (the stratumPrefix distributed-prefix shape at 100 TB),
    // source-totals broadcast join, and the output sort is a range
    // exchange on the priority key — no global single-partition window.
    withOracle(
      "corpus_interleave",
      """WITH t AS (SELECT source,
        |             sum(len(string_split_regex(lower(text), '\s+'))) AS n_tokens
        |           FROM documents GROUP BY source),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |        PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM documents WHERE doc_id IS NOT NULL)
        |SELECT r.doc_id, r.source, rnk, CAST(rnk * n_tokens AS BIGINT) AS priority
        |FROM r JOIN t USING (source)
        |ORDER BY priority, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val totals = docs.groupBy("source")
        .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      // per-source rank via the distributed prefix sum — a raw
      // Window.partitionBy(source) here would sort an entire source
      // (half the corpus under the documented skew) in ONE task
      val ranked = stratumPrefix(
          docs.select(col("doc_id"), col("source").as("lang"), lit(1L).as("v")))
        .select(col("doc_id"), col("lang").as("source"), col("rank").as("rnk"))
      ranked
        .join(broadcast(totals), "source")
        .select(col("doc_id"), col("source"), col("rnk"),
          (col("rnk") * col("n_tokens")).as("priority"))
        .orderBy("priority", "doc_id")
    },

    // CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): per
    // LANGUAGE, rank docs by unigram-LM NLL and ntile(3) the ranking —
    // bucket 1 ("head") is the best-scored third, 3 ("tail") the worst;
    // pipelines keep head+middle. Language-partitioned because NLL
    // magnitudes don't compare across token inventories. The unigram
    // CTE is text_unigram_logprob's oracle verbatim, so this query also
    // re-proves the LM scores under composition.
    //
    // Scale: the ranking is orderedStratumRank's distributed prefix
    // (ONE range exchange on (lang, nll, doc_id) + broadcast offsets) —
    // never a Window.partitionBy(lang) one-task sort of the dominant
    // language — and the bucket is exact ntile in closed form from the
    // global rank, so there is no approximate path to diverge from this
    // oracle at any scale. Ties (4dp-rounded nll) break on doc_id in
    // both engines.
    withOracle(
      "corpus_ppl_split",
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |             FROM documents),
        |vc AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |n AS (SELECT sum(c) AS total FROM vc),
        |nll AS (SELECT doc_id, round(avg(-ln(c * 1.0 / total)), 4) AS nll
        |        FROM tok JOIN vc USING (t) CROSS JOIN n GROUP BY doc_id),
        |b AS (SELECT doc_id, lang, nll,
        |             CAST(ntile(3) OVER (PARTITION BY lang
        |               ORDER BY nll, doc_id) AS BIGINT) AS bucket
        |      FROM documents JOIN nll USING (doc_id))
        |SELECT doc_id, lang, nll, bucket,
        |       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |            ELSE 'tail' END AS tier
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      pplSplit(Tables.documents(s, dir), k = 3)
        .withColumn("tier",
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle").otherwise("tail"))
        .orderBy("doc_id")
    },

    // Domain-dominance cap (RefinedWeb/C4 shape): keep the SourceCap
    // best-LM-scored docs per source so a mega-domain can't crowd the
    // training mix. Ordering is unigram NLL ascending (common-word text
    // first) with doc_id ties — the same score relation corpus_ppl_split
    // ranks, capped per source instead of ntiled per language.
    //
    // Scale: orderedStratumRank's distributed prefix keyed by source —
    // one range exchange, the dominant domain spreads over many
    // contiguous partitions, and the cap is a row-local filter after
    // the broadcast offsets join. No per-source one-task sort anywhere.
    withOracle(
      "corpus_source_cap",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        |             FROM documents),
        |vc AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |n AS (SELECT sum(c) AS total FROM vc),
        |nll AS (SELECT doc_id, round(avg(-ln(c * 1.0 / total)), 4) AS nll
        |        FROM tok JOIN vc USING (t) CROSS JOIN n GROUP BY doc_id),
        |r AS (SELECT doc_id, source, nll,
        |             CAST(row_number() OVER (PARTITION BY source
        |               ORDER BY nll, doc_id) AS BIGINT) AS rank
        |      FROM documents JOIN nll USING (doc_id))
        |SELECT doc_id, source, nll, rank FROM r
        |WHERE rank <= ${SourceCap} ORDER BY doc_id""".stripMargin) { (s, dir) =>
      sourceCap(Tables.documents(s, dir), SourceCap).orderBy("doc_id")
    }
  )
}
