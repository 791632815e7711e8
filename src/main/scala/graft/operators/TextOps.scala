package graft.operators

import graft.{GraftConf, QueryDef, Tables}
import graft.QueryDef.withOracle
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators over `documents` (SURVEY.md §2.9): exact dedup,
  * corpus stats, token top-k, quality scoring, fingerprinting, language ID,
  * and exact n-gram-Jaccard near-dup scoring. MinHash/SimHash LSH live in
  * NearDedup.scala (no-oracle, property-tested).
  *
  * Scale notes: everything is shuffle-based group/join — no driver
  * collection. The shingle self-join (`text_ngram_jaccard`) is the exact
  * O(pairs-sharing-a-shingle) "sparse similarity join", bounded by the
  * hot-shingle cap (`MaxShingleFreq` — one boilerplate shingle shared by
  * k docs would otherwise fan out k² join rows); at 100 TB the LSH
  * operators replace it and this exact form runs only on candidate pairs.
  */
object TextOps {

  /** PII patterns, constrained to the dialect Java regex and RE2 share
    * (character classes, bounded repeats, \b — no lookaround) so the
    * engine and the DuckDB oracle agree byte-for-byte.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** HTML/markup tag pattern — same shared Java-regex ∩ RE2 dialect. */
  val TagPat = "<[^>]*>"

  /** Markup strip for crawl cleaning (the `text_html_strip` entry):
    * tags → space, the five standard entities decoded (`&amp;` LAST —
    * the single-pass convention, so "&amp;lt;" yields the literal text
    * "&lt;", never a second-round "<"), whitespace collapsed, trimmed.
    * `n_tags` counts the stripped tags from the ORIGINAL text.
    * Row-local, zero shuffles.
    */
  def htmlStrip(docs: DataFrame): DataFrame = {
    val noTags = regexp_replace(col("text"), TagPat, " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    docs.select(col("doc_id"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_clean"),
      size(regexp_extract_all(col("text"), lit(TagPat), lit(0)))
        .cast("long").as("n_tags"))
  }

  /** Redacted text + per-doc match counts over a (doc_id, text) relation:
    * emails first, then phones, counts from the pre-scrub text.
    */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>").as("clean"),
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhonePat), lit(0)))
        .cast("long").as("n_phones"))

  /** Per-doc mean negative log-likelihood under corpus unigram
    * frequencies, with a BOUNDED vocabulary model:
    *
    *   - Frequency floor (`graft.unigram.minCount`, default 2): only
    *     token types with count >= minCount enter the vocab relation;
    *     everything else is OOV and backs off to count max(minCount-1,1).
    *     Heaps'-law singletons are ~half of all types in raw web text, so
    *     the floor alone removes the unbounded tail that would otherwise
    *     grow the vocab toward 10^8-10^9 types at 100 TB.
    *   - Size guard (`graft.unigram.maxVocab`, default 5M types): the
    *     floored vocab is broadcast only when its type count fits; above
    *     the guard the score join falls back to a shuffle join, which is
    *     slower but cannot OOM the driver/executors.
    *
    * The total-token normalizer counts ALL occurrences (OOV included), so
    * probabilities stay comparable across minCount settings. The one
    * driver-side action is a two-scalar aggregate (total, vocab size) —
    * the same pass the old plan spent materializing the broadcast `total`
    * relation, now reused to pick the join strategy; no extra scan.
    *
    * Scale: building the vocab is the one corpus-wide token shuffle
    * (train the LM once, score everything); the broadcast path keeps the
    * exploded token stream shuffle-free until the per-doc aggregate,
    * which collapses map-side (a doc's tokens are colocated).
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val minCount = GraftConf.UnigramMinCount(spark).toInt
    val maxVocab = GraftConf.UnigramMaxVocab(spark).toLong
    val oovCount = math.max(minCount - 1, 1).toLong
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val vcAll = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val stats = vcAll.agg(
      sum("c").as("total"),
      sum(when(col("c") >= minCount, 1L).otherwise(0L)).as("vtypes")).head()
    // empty/all-blank corpus: sum over zero rows is null — the result is
    // empty either way, but building it must not NPE (and log(c/total)
    // must not divide by zero on the no-rows plan)
    val totalTokens = math.max(if (stats.isNullAt(0)) 0L else stats.getLong(0), 1L)
    val vocabTypes = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val vc = vcAll.where(col("c") >= minCount)
    val vcSide = if (vocabTypes <= maxVocab) broadcast(vc) else vc
    tok.join(vcSide, Seq("t"), "left_outer")
      .groupBy("doc_id")
      .agg(round(avg(-log(
        coalesce(col("c"), lit(oovCount)) / lit(totalTokens))), 4).as("nll"))
  }

  /** Per-doc mean NLL under an interpolated BIGRAM model:
    * P(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·c(w2)/N — see the
    * `text_bigram_logprob` entry for the modeling story. The bigram
    * relation is a per-doc lead() window (document-bounded); counts are
    * map-side-combined aggregates. BOTH model relations are BOUNDED the
    * way [[unigramLogprob]] was hardened in round 8 — the bigram-type
    * relation is strictly LARGER than the unigram vocab (bigram types ≫
    * token types at web scale), so an unbounded `c2` is the exact
    * failure the unigram floors exist to prevent:
    *
    *   - Frequency floor (`graft.bigram.minCount`, default 2): only
    *     bigram/token types with count >= minCount enter the model
    *     relations; everything else is OOV and backs off to count
    *     max(minCount-1, 1) through the left-outer score joins. At the
    *     default, a floored type's backoff count IS its true count
    *     (singletons are the only types dropped), so floored and
    *     unbounded scores are equal by construction at any scale — the
    *     same invariant that keeps the unigram oracle exact.
    *   - Size guards: the floored bigram relation is broadcast only
    *     while its type count fits `graft.bigram.maxTypes` (default 5M);
    *     the floored unigram side honors the existing
    *     `graft.unigram.maxVocab`. Above a guard the score join falls
    *     back to a shuffle join — slower, cannot OOM.
    *
    * The normalizer N counts ALL token occurrences (OOV included), so
    * probabilities stay comparable across minCount settings. The two
    * driver-side actions are two-scalar aggregates over the count
    * relations (total + floored type counts — the stats that pick each
    * join's strategy); the model is built once and scores everything.
    */
  def bigramLogprob(docs: DataFrame, lambda: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    val minCount = GraftConf.BigramMinCount(spark).toInt
    val maxTypes = GraftConf.BigramMaxTypes(spark).toLong
    val maxVocab = GraftConf.UnigramMaxVocab(spark).toLong
    val oov = math.max(minCount - 1, 1).toLong
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "t")))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val bg = tok
      .withColumn("w2", lead("t", 1).over(w))
      .where(col("w2").isNotNull)
      .select(col("doc_id"), col("t").as("w1"), col("w2"))
    val c1All = tok.groupBy("t").agg(count(lit(1)).as("c1"))
    val c2All = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val s1 = c1All.agg(sum("c1").as("total"),
      sum(when(col("c1") >= minCount, 1L).otherwise(0L)).as("types")).head()
    // empty/all-blank corpus: sums over zero rows are null — the result
    // is empty either way, but the stats must not NPE
    val total = math.max(if (s1.isNullAt(0)) 0L else s1.getLong(0), 1L)
    val uniTypes = if (s1.isNullAt(1)) 0L else s1.getLong(1)
    val s2 = c2All.agg(
      sum(when(col("c2") >= minCount, 1L).otherwise(0L))).head()
    val bgTypes = if (s2.isNullAt(0)) 0L else s2.getLong(0)
    val c1 = c1All.where(col("c1") >= minCount)
    val c2 = c2All.where(col("c2") >= minCount)
    val c1Side = if (uniTypes <= maxVocab) broadcast(c1) else c1
    val c2Side = if (bgTypes <= maxTypes) broadcast(c2) else c2
    bg
      .join(c2Side, Seq("w1", "w2"), "left_outer")
      .join(c1Side.select(col("t").as("w1"), col("c1").as("ca")), Seq("w1"), "left_outer")
      .join(c1Side.select(col("t").as("w2"), col("c1").as("cb")), Seq("w2"), "left_outer")
      .groupBy("doc_id")
      .agg(round(avg(-log(
        lit(lambda) * coalesce(col("c2"), lit(oov)) / coalesce(col("ca"), lit(oov)) +
          lit(1.0 - lambda) * coalesce(col("cb"), lit(oov)) / lit(total))), 4).as("nll"))
  }

  /** Trigram types up to which [[trigramLogprob]] broadcasts the
    * floored trigram counts.
    */
  val TrigramMaxTypes = 5000000L

  /** Per-doc mean NLL under an interpolated TRIGRAM model — the
    * KenLM-grade quality-filter fidelity step past [[bigramLogprob]]
    * (r15 task 4):
    *
    *   P(w3|w1,w2) = λ3·c(w1w2w3)/c(w1w2) + λ2·c(w2w3)/c(w2) + λ1·c(w3)/N
    *
    * with λ3=0.6, λ2=0.3, λ1=1−λ3−λ2, averaged over positions 3..n
    * (docs shorter than 3 tokens have no trigram positions and no row).
    * One order deeper than the bigram: "the cat sat" vs "cat the sat"
    * can tie on bigram NLL (same bigram multiset) and still separate
    * here — TextOpsSpec pins exactly that case.
    *
    * Same bounded-model hardening as the bigram (the relations only get
    * bigger with order):
    *   - Frequency floor `graft.trigram.minCount` (default 2) on the
    *     trigram relation; the bigram/unigram sides reuse their own
    *     floors' semantics via the shared default. At minCount=2 a
    *     floored type's OOV backoff count (max(minCount−1,1) = 1) IS its
    *     true count — singletons are the only types dropped — so the
    *     floored model scores EXACTLY like the unbounded one and the
    *     DuckDB oracle (which computes the unbounded model) stays exact
    *     at any scale factor.
    *   - Size guards: each floored count relation broadcasts only while
    *     its type count fits ([[TrigramMaxTypes]] /
    *     `graft.bigram.maxTypes` / `graft.unigram.maxVocab`, 5M
    *     each — the sample_importance broadcast-until-capped stance);
    *     above a guard that score join demotes to shuffle — slower,
    *     cannot OOM.
    *
    * Scale: the trigram relation rides the same per-doc two-lead window
    * (document-bounded, no cross-doc state); counts are map-side
    * combinable aggregates (train once, score everything); on the
    * broadcast path the per-doc NLL collapses MAP-SIDE — a doc's
    * trigram stream never shuffles between the explode and the avg.
    */
  def trigramLogprob(docs: DataFrame, lambda3: Double = 0.6,
      lambda2: Double = 0.3, lambda1: Double = 0.1): DataFrame = {
    // λ1 is EXPLICIT, not derived: 1.0 − 0.6 − 0.3 is 0.10000000000000003
    // in IEEE doubles while the oracle's literal is exactly 0.1 — a
    // derived weight would disagree with the SQL in the last ulp and
    // could flip a 4-dp rounding boundary
    require(math.abs(lambda3 + lambda2 + lambda1 - 1.0) < 1e-9,
      s"interpolation weights must sum to 1, got $lambda3 + $lambda2 + $lambda1")
    val spark = docs.sparkSession
    val minCount = GraftConf.TrigramMinCount(spark).toInt
    val maxTypes = GraftConf.BigramMaxTypes(spark).toLong
    val maxVocab = GraftConf.UnigramMaxVocab(spark).toLong
    val oov = math.max(minCount - 1, 1).toLong
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "t")))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val grams = tok
      .withColumn("w2", lead("t", 1).over(w))
      .withColumn("w3", lead("t", 2).over(w))
    val tg = grams.where(col("w3").isNotNull)
      .select(col("doc_id"), col("t").as("w1"), col("w2"), col("w3"))
    val bg = grams.where(col("w2").isNotNull)
      .select(col("t").as("w1"), col("w2"))
    val c1All = tok.groupBy("t").agg(count(lit(1)).as("c1"))
    val c2All = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c3All = tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val s1 = c1All.agg(sum("c1").as("total"),
      sum(when(col("c1") >= minCount, 1L).otherwise(0L)).as("types")).head()
    // empty/all-blank corpus: sums over zero rows are null — the result
    // is empty either way, but the stats must not NPE
    val total = math.max(if (s1.isNullAt(0)) 0L else s1.getLong(0), 1L)
    val uniTypes = if (s1.isNullAt(1)) 0L else s1.getLong(1)
    val s23 = c2All.agg(sum(when(col("c2") >= minCount, 1L).otherwise(0L))).head()
    val bgTypes = if (s23.isNullAt(0)) 0L else s23.getLong(0)
    val s3 = c3All.agg(sum(when(col("c3") >= minCount, 1L).otherwise(0L))).head()
    val tgTypes = if (s3.isNullAt(0)) 0L else s3.getLong(0)
    val c1 = c1All.where(col("c1") >= minCount)
    val c2 = c2All.where(col("c2") >= minCount)
    val c3 = c3All.where(col("c3") >= minCount)
    val c1Side = if (uniTypes <= maxVocab) broadcast(c1) else c1
    val c2Side = if (bgTypes <= maxTypes) broadcast(c2) else c2
    val c3Side = if (tgTypes <= TrigramMaxTypes) broadcast(c3) else c3
    tg
      .join(c3Side, Seq("w1", "w2", "w3"), "left_outer")
      .join(c2Side.select(col("w1"), col("w2"), col("c2").as("cctx")),
        Seq("w1", "w2"), "left_outer")
      .join(c2Side.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c23")), Seq("w2", "w3"), "left_outer")
      .join(c1Side.select(col("t").as("w2"), col("c1").as("ca")),
        Seq("w2"), "left_outer")
      .join(c1Side.select(col("t").as("w3"), col("c1").as("cb")),
        Seq("w3"), "left_outer")
      .groupBy("doc_id")
      .agg(round(avg(-log(
        lit(lambda3) * coalesce(col("c3"), lit(oov)) / coalesce(col("cctx"), lit(oov)) +
          lit(lambda2) * coalesce(col("c23"), lit(oov)) / coalesce(col("ca"), lit(oov)) +
          lit(lambda1) * coalesce(col("cb"), lit(oov)) / lit(total))), 4)
        .as("nll"))
  }

  /** Gopher-rule quality FILTER (Rae et al. 2021 §A.1.1, the named
    * heuristic rule set pretraining pipelines actually gate on — the
    * decision layer over the raw signals `text_quality_score` /
    * `text_repetition` emit): per-doc word count bounds, mean word
    * length bounds, alphabetic-word fraction floor and a stopword
    * floor, each emitted as its inputs plus one `keep` verdict. All
    * metrics are regexp built-ins over the raw text (codegen'd,
    * zero HOFs, zero shuffles — a pure row-local pass, like the other
    * quality gates): words are non-space runs, total word chars =
    * text minus whitespace, alphabetic words = non-space runs
    * containing a letter. `keep` compares the ROUNDED ratios so the
    * engine and the DuckDB oracle agree bit-for-bit at the boundary.
    * Docs with zero words fail the word-count floor (three-valued
    * logic short-circuits the null ratios identically in both
    * engines).
    */
  def gopherFilter(docs: DataFrame, minWords: Int = 5, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStop: Int = 2): DataFrame = {
    val nWords =
      size(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).cast("long")
    val totalChars = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val alphaWords =
      size(regexp_extract_all(lower(col("text")), lit("\\S*[a-z]\\S*"), lit(0)))
        .cast("long")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), nWords.as("n_words"),
        round(when(nWords > 0, totalChars / nWords.cast("double")), 4)
          .as("mean_word_len"),
        round(when(nWords > 0, alphaWords / nWords.cast("double")), 4)
          .as("alpha_frac"),
        stopwordCount(col("text")).cast("long").as("n_stop"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen &&
          col("alpha_frac") >= minAlphaFrac && col("n_stop") >= minStop)
  }

  /** Default hot-shingle cap for the exact sparse similarity join: a
    * shingle shared by k docs fans out k² join rows, so one boilerplate
    * shingle (license header, nav bar) can turn the whole job quadratic.
    * Declared BEFORE `shinglePairCte`/`defs` — the oracle SQL
    * interpolates it eagerly at object init (the SpanDedupN rule; a
    * later declaration interpolates the uninitialized 0 and empties the
    * oracle's join).
    */
  val MaxShingleFreq = 10000

  /** The shared exact-shingle oracle CTE. The `cool`/`shj` stage is the
    * DuckDB mirror of the Spark side's MaxShingleFreq hot-shingle guard
    * (the cap inside ngramJaccardPairsFromHashes and the containment
    * form): shingles in more than the cap's worth of docs
    * are dropped from the pair JOIN while set sizes stay exact — the
    * two engines must apply the SAME cap or intersection counts diverge
    * on any corpus with a >cap boilerplate shingle (latent at fixture
    * scale, real at 100 TB).
    */
  def shinglePairCte(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS l
      |              FROM $src),
      |sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-2, 0))) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |cool AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleFreq),
      |shj AS (SELECT sh.doc_id, sh.s FROM sh JOIN cool USING (s)),
      |pair AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      |         FROM shj a JOIN shj b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)""".stripMargin

  /** Span length for text_span_dedup: long enough that natural-language
    * collisions are rare, short enough to catch template boilerplate
    * (Lee et al. use 50 BPE tokens at web scale; 8 words suits the
    * fixture corpus and the semantics are length-independent).
    * Declared before `defs` — its oracle SQL interpolates it eagerly.
    */
  val SpanDedupN = 8

  /** BM25 scores (Robertson-Spärck Jones, k1=1.2 b=0.75) of `docs`
    * against `qTerms`: (doc_id, bm25) for every doc matching ≥1 query
    * term, scores rounded to 4 so downstream ranking agrees cross-engine
    * (the text_bm25_topk contract; hybrid_search_rrf fuses this with the
    * cosine branch).
    *
    * Scale: tf is a map-combinable (doc,term) aggregate; the query-term
    * filter prunes the posting relation BEFORE any join (|qTerms| terms,
    * not the vocabulary); df aggregates those pruned postings; dl is a
    * doc-cardinality aggregate joined on doc_id; corpus stats ride a
    * one-row broadcast.
    */
  def bm25Scores(docs: DataFrame, qTerms: Seq[String]): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .where(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tfq = tf.where(col("t").isin(qTerms: _*))
    val dfreq = tfq.groupBy("t").agg(count(lit(1)).as("df"))
    tfq.join(dfreq, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("bm25"))
      .select(col("doc_id"), col("bm25"))
  }

  /** Global top-k of a (doc_id, bm25) relation via the map-side TopKAgg
    * heap — each task ships at most k rows, no single-partition window
    * over every matching document. Output: (rank, doc_id, bm25), rank on
    * (bm25 DESC, doc_id ASC) over the ROUNDED scores — the cross-engine
    * ranking contract. The heap's one group explodes in rank order in
    * one partition, so the output is already in rank order: a trailing
    * sort would only add its range-sampling job and shuffle.
    */
  def bm25Rank(scores: DataFrame, k: Int): DataFrame = {
    val sess = scores.sparkSession
    import sess.implicits._
    scores.as[(Long, Double)]
      .groupByKey(_ => 0)
      .mapValues { case (id, v) => (id, v) }
      .agg(graft.functions.TopKAgg.TopK(k).toColumn.name("top"))
      .select(posexplode(col("top.items")).as(Seq("pos", "e")))
      .select((col("pos") + 1).as("rank"), col("e.id").as("doc_id"),
        col("e.value").as("bm25"))
  }

  /** Shared DuckDB oracle for text_bm25_topk AND text_bm25_indexed —
    * the indexed form must return byte-identical results to the direct
    * scan, and sharing the SQL makes the driver prove it.
    */
  private[graft] val bm25TopkOracleSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      |              FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |q AS (SELECT unnest(['spark', 'merge', 'vector']) AS t),
      |df AS (SELECT t, count(*) AS df FROM tf JOIN q USING (t) GROUP BY t),
      |scored AS (
      |  SELECT tf.doc_id,
      |         sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
      |             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
      |  FROM tf JOIN q USING (t) JOIN df USING (t) JOIN dl USING (doc_id)
      |       CROSS JOIN stats
      |  GROUP BY tf.doc_id),
      |ranked AS (
      |  SELECT doc_id, round(score, 4) AS bm25,
      |         row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT rank, doc_id, bm25 FROM ranked WHERE rank <= 10
      |ORDER BY rank""".stripMargin

  /** The content-keyed FULL-corpus serving [[LexIndex]] shared by every
    * pure build-then-serve lexical query over the same sf dir
    * (text_bm25_indexed, text_bm25_batch, the hybrid batch tiers):
    * built once per corpus per JVM via [[graft.IndexCache]], served
    * thereafter. Lifecycle queries (append/swap/catchup/stream folds)
    * deliberately do NOT use this — the mutation sequence is their
    * claim, so they stage fresh dirs per run.
    */
  private[graft] def sharedFullLexIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.IndexCache.serve(s"lex|full|$dir", "graft_lexindex")(
      LexIndex.build(s, Tables.documents(s, dir), _))

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup by content hash: keep the smallest doc_id per md5 group.
    withOracle(
      "text_exact_dedup",
      """SELECT doc_id, md5(text) AS h FROM (
        |  SELECT doc_id, text,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("rn",
          row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .where(col("rn") === 1)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    },

    // Per-language corpus stats.
    withOracle(
      "text_stats",
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       round(avg(n_chars), 4) AS avg_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          round(avg("n_chars"), 4).as("avg_chars"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang")
    },

    // Top-k tokens by frequency across the corpus.
    withOracle(
      "text_tokenize_topk",
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents) t
        |WHERE token <> ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    },

    // One BPE training step: corpus-wide adjacent character-pair counts
    // within words — the argmax pair is the merge a byte-pair-encoding
    // tokenizer learns next (Sennrich et al., ACL'16). The whole pass is
    // row-local generate (token → its len−1 bigrams via
    // transform/sequence, codegen) into a map-side-combinable count;
    // top-20 selection is TakeOrderedAndProject. At 100 TB this is the
    // shape each BPE iteration actually runs: one scan, partial aggs,
    // pair-vocabulary-sized shuffle — the corpus never re-materializes.
    withOracle(
      "bpe_pair_counts",
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |b AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair
        |  FROM w, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2)
        |SELECT pair, count(*) AS n FROM b
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .where(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // Per-doc top-3 salient terms, tf-idf family: rank by the INTEGER
    // relevance key (tf desc, then document-frequency asc = rarest-first,
    // then term) so top-k selection is exact across engines, and emit the
    // conventional ln-idf score as a rounded output attribute. Selection
    // by floats would hinge on libm ulp agreement between Spark and the
    // oracle; the integer key is the same ordering wherever scores don't
    // tie in real arithmetic, and deterministic where they do.
    //
    // Scale: tf is a (doc,term) map-side-combinable aggregate; df
    // aggregates tf (term-cardinality — vocabulary-sized, NOT corpus-
    // sized); the tf⋈df join shuffles on term with partial aggregation
    // upstream, the same shape every distributed tf-idf uses. The doc
    // count rides a one-row broadcast totals join. No driver loops.
    withOracle(
      "text_tfidf_topk",
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |              FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ranked AS (
        |  SELECT doc_id, t AS term, tf, df,
        |         round(tf * ln(n_docs * 1.0 / df), 4) AS tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tf DESC, df ASC, t ASC) AS rk
        |  FROM tf JOIN df USING (t) CROSS JOIN n)
        |SELECT doc_id, rk, term, tf, df, tfidf FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("t").asc)
      tf.join(dfreq, "t").crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("t").as("term"),
          col("tf"), col("df"), col("tfidf"))
        .orderBy("doc_id", "rk")
    },

    // BM25 ranked retrieval (Robertson-Spärck Jones, k1=1.2 b=0.75): score
    // the corpus against a fixed 3-term query, emit the global top-10.
    // The serving-side complement of text_tfidf_topk: that one
    // characterizes documents, this one answers a query.
    //
    // Both engines evaluate the same expression tree (left-associative,
    // identical literals) so the rounded scores hash-match; ranking and
    // the k-boundary use the ROUNDED score with doc_id tie-break, so
    // top-k selection agrees wherever the rounded values do.
    //
    // Scale: tf is a map-combinable (doc,term) aggregate; the query-term
    // filter prunes the posting relation BEFORE any join (3 terms, not
    // the vocabulary); df aggregates those pruned postings (3 rows); dl
    // is a doc-cardinality aggregate joined on doc_id; corpus stats ride
    // a one-row broadcast. Global top-10 selection is the map-side
    // TopKAgg heap — each task ships at most 10 rows, no single-partition
    // window over every matching document.
    withOracle(
      "text_bm25_topk",
      bm25TopkOracleSql) { (s, dir) =>
      bm25Rank(bm25Scores(Tables.documents(s, dir),
        Seq("spark", "merge", "vector")), 10)
    },

    // The same BM25 top-10 served from the persistent posting-list
    // index ([[LexIndex]]): build in-query, query reads ONLY the 3
    // terms' bucket partitions with doc lengths denormalized onto the
    // postings — no corpus-shaped work at query time. SAME oracle SQL
    // as text_bm25_topk, so the driver proves index ≡ direct scan
    // (the text_span_scrub_windowed pattern); LexIndexSpec pins the
    // partition pruning.
    withOracle(
      "text_bm25_indexed",
      bm25TopkOracleSql) { (s, dir) =>
      // content-keyed serving index (r15 task 1): built once per corpus
      // per JVM, later invocations serve from the committed index — the
      // production amortization (indexes are built nightly, queried many
      // times); the shared oracle still proves index ≡ direct scan
      val idx = sharedFullLexIndex(s, dir)
      LexIndex.bm25TopK(s, idx, Seq("spark", "merge", "vector"), k = 10)
    },

    // The index LIFECYCLE form (the ann_ivfpq_indexed shape for the
    // lexical side): build on even doc ids, append the odd half, query
    // the union. Lexical append is EXACT — no codebooks to go stale, so
    // unlike the PQ index there is no widened-rerank caveat: build +
    // append ≡ one build ≡ the direct scan, and sharing the oracle SQL
    // makes the driver prove the whole chain.
    withOracle(
      "text_bm25_index_append",
      bm25TopkOracleSql) { (s, dir) =>
      val idx = graft.Scratch.dir("graft_lexindex_app")
      val docs = Tables.documents(s, dir)
      LexIndex.build(s, docs.where(col("doc_id") % 2 === 0), idx)
      LexIndex.append(s, docs.where(col("doc_id") % 2 === 1), idx)
      LexIndex.bm25TopK(s, idx, Seq("spark", "merge", "vector"), k = 10)
    },

    // REBUILD-WHILE-SERVING: the serving-pointer flip the in-place
    // rebuild refusal points at (the ElephantDB shard-version swap —
    // reference: the serving layer's domain-version flip behind
    // BatchWorkflow.java:348-365), exercised end to end on the lexical
    // index. Build v0 under a COARSE bucket modulus and flip the
    // pointer → serve; then rebuild with DIFFERENT index params (the
    // production quantizer-refresh shape) into a FRESH v1 dir while v0
    // keeps serving — the pointer provably still resolves to v0 until
    // the flip — then flip and serve v1. Both versions index the same
    // corpus, and BM25 is modulus-invariant (buckets only route the
    // pruned scan), so the post-flip answer shares text_bm25_topk's
    // oracle verbatim: the driver proves serving survived a full
    // rebuild bit-exactly. ServingPointerSpec kill-tests both flip
    // crash points (pre-flip crash serves old; mid-pointer-swap crash
    // recovers) and pins old-version reads until the flip commits.
    withOracle(
      "index_rebuild_swap",
      bm25TopkOracleSql) { (s, dir) =>
      val root = graft.Scratch.dir("graft_lexindex_swaproot")
      val docs = Tables.documents(s, dir)
      val terms = Seq("spark", "merge", "vector")
      val v0 = graft.model.ServingPointer.stage(s, root)(
        LexIndex.build(s, docs, _, nBuckets = 8))
      graft.model.ServingPointer.flip(s, root, v0)
      val servedV0 = graft.model.ServingPointer.resolve(s, root).get
      // serve from v0 (a real job — the pre-rebuild serving window)
      require(LexIndex.bm25TopK(s, servedV0, terms, k = 10).count() > 0)
      // rebuild with DIFFERENT params into a fresh dir; v0 serves on
      val v1 = graft.model.ServingPointer.stage(s, root)(
        LexIndex.build(s, docs, _, nBuckets = 64))
      require(graft.model.ServingPointer.resolve(s, root).get == servedV0,
        "pointer moved before the flip committed")
      graft.model.ServingPointer.flip(s, root, v1)
      LexIndex.bm25TopK(s,
        graft.model.ServingPointer.resolve(s, root).get, terms, k = 10)
    },

    // REBUILD CATCH-UP REPLAY (r15 — the gap `index_rebuild_swap` and
    // `serving_merge_index` leave open): a real batch-layer rebuild
    // runs from a SNAPSHOT of the master data, and speed-layer batches
    // that land while it runs are missing from the staged version — the
    // lambda handoff must close that gap before the flip or the swap
    // silently time-travels the view backwards. The closing move is a
    // REPLAY OF THE RECENT LOG into the staged version: the rebuild
    // records the snapshot's batch high-water mark in the new index's
    // stats, so replaying EVERY recent batch is safe — batchId
    // idempotence no-ops the ones the snapshot already contains and
    // applies only the in-flight ones (the same machinery that makes
    // foreachBatch re-deliveries exactly-once). Timeline here: v0
    // serves batches A (build) + B + C (appends); the rebuild snapshots
    // A∪B (high-water mark = B's id) while C lands on v0; catch-up
    // replays B (no-op, proved by stats) then C (applied) into v1;
    // flip. Post-flip ≡ one build over A∪B∪C — the shared oracle
    // proves no batch was lost OR double-counted across the handoff.
    withOracle(
      "index_rebuild_catchup",
      bm25TopkOracleSql) { (s, dir) =>
      import graft.model.ServingPointer
      val root = graft.Scratch.dir("graft_lexindex_catchup")
      val docs = Tables.documents(s, dir)
      val terms = Seq("spark", "merge", "vector")
      val a = docs.where(col("doc_id") % 3 === 0)
      val b = docs.where(col("doc_id") % 3 === 1)
      val c = docs.where(col("doc_id") % 3 === 2)
      // v0 serves; speed layer folds batch B in (durable batch id 1)
      val v0 = ServingPointer.stage(s, root)(LexIndex.build(s, a, _, batchId = 0))
      ServingPointer.flip(s, root, v0)
      val servedV0 = ServingPointer.resolve(s, root).get
      LexIndex.append(s, b, servedV0, batchId = 1)
      // batch layer: rebuild from the A∪B snapshot, recording its batch
      // high-water mark (1) — v0 keeps serving
      val v1 = ServingPointer.stage(s, root)(
        LexIndex.build(s, a.unionByName(b), _, batchId = 1))
      // ...while batch C lands on the SERVING version mid-rebuild
      LexIndex.append(s, c, servedV0, batchId = 2)
      require(ServingPointer.resolve(s, root).get == servedV0,
        "pointer moved before the flip committed")
      // catch-up: replay the whole recent log into the staged version —
      // idempotence must no-op B (snapshot already has it) and apply C
      val v1dir = ServingPointer.versionDir(root, v1)
      LexIndex.append(s, b, v1dir, batchId = 1) // replay of a snapshot batch
      require(LexIndex.levels.committed(s, v1dir).exists(_.getAs[Long]("max_seq") == 0L),
        "replaying a batch the snapshot contains must be a no-op")
      LexIndex.append(s, c, v1dir, batchId = 2) // the in-flight batch
      ServingPointer.flip(s, root, v1)
      LexIndex.bm25TopK(s,
        ServingPointer.resolve(s, root).get, terms, k = 10)
    },

    // BATCH-query BM25 serving (the production request shape — a search
    // tier evaluates a batch, not one query at a time): three queries
    // with overlapping terms answered from the posting-list index in
    // ONE partition-pruned scan of the union of their terms' buckets;
    // df is computed once per term and shared across queries; per-query
    // top-10 reduces through the map-side TopKAgg heap keyed by qid.
    // Each query's block is byte-identical to serving it alone
    // (LexIndexSpec pins block-for-block equality + the single pruned
    // scan), so batching is pure amortization: B queries cost one scan,
    // never B.
    withOracle(
      "text_bm25_batch",
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |              FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |q AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'merge'), (0, 'vector'),
        |                            (1, 'data'), (1, 'query'),
        |                            (2, 'merge'), (2, 'stream'), (2, 'data'))
        |      AS v(qid, t)),
        |df AS (SELECT t, count(*) AS df FROM tf
        |       WHERE t IN (SELECT DISTINCT t FROM q) GROUP BY t),
        |scored AS (
        |  SELECT q.qid, tf.doc_id,
        |         sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
        |             * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        |  FROM tf JOIN q USING (t) JOIN df USING (t) JOIN dl USING (doc_id)
        |       CROSS JOIN stats
        |  GROUP BY q.qid, tf.doc_id),
        |ranked AS (
        |  SELECT qid, doc_id, round(score, 4) AS bm25,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY round(score, 4) DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT qid, rank, doc_id, bm25 FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      // shares text_bm25_indexed's content-keyed full-corpus index —
      // two serving queries over the same corpus want the same index
      val idx = sharedFullLexIndex(s, dir)
      LexIndex.bm25TopKBatch(s, idx, Seq(
        0 -> Seq("spark", "merge", "vector"),
        1 -> Seq("data", "query"),
        2 -> Seq("merge", "stream", "data")), k = 10)
    },

    // Fixed-size overlapping token-window chunking (size 32, stride 24 —
    // 8-token overlap): the corpus prep primitive for training-sequence
    // and RAG-passage construction. Chunk c of a doc covers tokens
    // [c·stride, c·stride+size); starts sweep while < n_tokens, so tail
    // chunks shrink but every token lands in ≥1 chunk. Chunk text is
    // emitted as md5 (compact, exact — the same cross-engine md5 contract
    // text_exact_dedup uses).
    //
    // Scale: entirely row-local — one generate per doc, zero shuffles
    // before the output sort; chunking 100 TB is a map-only pass that
    // runs at source parallelism.
    withOracle(
      "text_chunk",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks, n,
        |             unnest(range(0, CAST(ceil(n / 24.0) AS BIGINT))) AS chunk_id
        |      FROM n)
        |SELECT doc_id, chunk_id, chunk_id * 24 AS start_tok,
        |       len(toks[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)]) AS n_tokens,
        |       md5(array_to_string(toks[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        // split of a non-null string returns ≥1 element, so ceil(n/24) ≥ 1
        // and the sequence is never descending (see the tokens scaladoc)
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), ceil(col("n") / 24.0).cast("long") - 1)).as("chunk_id"))
        .withColumn("start_tok", col("chunk_id") * 24)
        .withColumn("piece",
          slice(col("toks"), (col("start_tok") + 1).cast("int"),
            least(lit(32), col("n") - col("start_tok")).cast("int")))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          size(col("piece")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("piece")).cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // Per-doc token count (whitespace tokenization).
    withOracle(
      "text_token_count",
      """SELECT doc_id, len(string_split_regex(lower(text), '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
        .orderBy("doc_id")
    },

    // Source-level curation (the C4/RefinedWeb domain-filter stage): a
    // document's fate depends on its SOURCE's aggregate behavior, not
    // just its own text — spammy domains fail wholesale. Per-source mean
    // stopword density + volume gate, then keep docs of passing sources.
    //
    // Scale: one sources-cardinality aggregate (map-side partials over
    // the corpus scan), and the verdict joins back WITHOUT a forced
    // broadcast hint: domain counts range from thousands (broadcastable)
    // to tens of millions (hundreds of MB — a pinned broadcast would
    // OOM executors), so strategy selection is left to AQE's runtime
    // stats on the aggregated side. The same shape serves any
    // domain-level signal (spam score, licence flags, dedup density).
    withOracle(
      "domain_filter",
      """WITH sstats AS (
        |  SELECT source,
        |         count(*) AS n_docs,
        |         round(avg(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |             * 1.0 / len(string_split_regex(lower(text), '\s+'))), 4) AS avg_sr
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN sstats s ON d.source = s.source
        |WHERE s.n_docs >= 10 AND s.avg_sr >= 0.05
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sr = stopwordCount(col("text")) / size(tokens(col("text"))).cast("double")
      // the gate compares a ROUNDED mean (both engines): avg() over
      // doubles is summation-order-dependent, and a source sitting
      // within 1 ulp of the 0.05 threshold would otherwise flip its
      // whole doc set between the engines (the float-selection hazard
      // text_tfidf_topk documents)
      val sstats = docs
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg(sr), 4).as("avg_sr"))
        .where(col("n_docs") >= 10 && col("avg_sr") >= 0.05)
        .select("source")
      docs.join(sstats, Seq("source"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // Quality signals: token count, stopword hits/ratio, punctuation ratio.
    withOracle(
      "text_quality_score",
      """SELECT doc_id,
        |       len(string_split_regex(lower(text), '\s+')) AS n_tokens,
        |       len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS n_stop,
        |       round(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |             * 1.0 / len(string_split_regex(lower(text), '\s+')), 4) AS stop_ratio,
        |       round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
        |             * 1.0 / length(text), 4) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val nTokens = size(tokens(col("text")))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          nTokens.as("n_tokens"),
          stopwordCount(col("text")).as("n_stop"),
          round(stopwordCount(col("text")) / nTokens.cast("double"), 4).as("stop_ratio"),
          round(punctRatio(col("text")), 4).as("punct_ratio"))
        .orderBy("doc_id")
    },

    // The Gopher rule set as a FILTER verdict — semantics and plan on
    // [[gopherFilter]]; declared at fixture-appropriate thresholds
    // (minWords=5: the synthetic docs are short; production uses 50).
    withOracle(
      "text_gopher_filter",
      """WITH m AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(lower(text), '\S+')) AS n_words,
        |         length(regexp_replace(text, '\s', '', 'g')) AS total_chars,
        |         len(regexp_extract_all(lower(text), '\S*[a-z]\S*')) AS alpha_words,
        |         len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS n_stop
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, n_words,
        |         round(CASE WHEN n_words > 0 THEN total_chars * 1.0 / n_words END, 4) AS mean_word_len,
        |         round(CASE WHEN n_words > 0 THEN alpha_words * 1.0 / n_words END, 4) AS alpha_frac,
        |         n_stop
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
        |       (n_words >= 5 AND n_words <= 100000
        |        AND mean_word_len >= 3 AND mean_word_len <= 10
        |        AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      gopherFilter(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Bag-normalized document fingerprint (rolling-hash tier of dedup).
    withOracle(
      "doc_fingerprint",
      """SELECT doc_id,
        |       md5(array_to_string(list_sort(list_distinct(
        |         string_split_regex(lower(text), '\s+'))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // BPE-ish subword token counting next to the whitespace count: the
    // pre-tokenizer split (letter runs / digit runs / single punctuation)
    // that BPE vocabularies merge from — the budget unit a training
    // pipeline actually meters.
    withOracle(
      "text_token_count_bpe",
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
        |       len(string_split_regex(lower(text), '\s+')) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          bpeTokenCount(col("text")).as("n_bpe"),
          size(tokens(col("text"))).as("n_ws"))
        .orderBy("doc_id")
    },

    // Winnowing rolling-hash fingerprints (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03): min shingle-hash per sliding window of 4 — any shared
    // 6-token run between docs shares a fingerprint. Row-local (zero
    // shuffles); md5 is the hash so the DuckDB oracle is bit-identical.
    withOracle(
      "doc_winnow_fingerprint",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(l) >= 3
        |         THEN list_transform(generate_series(1, len(l)-2),
        |                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
        |         ELSE CAST([] AS VARCHAR[]) END AS s
        |       FROM toks),
        |hs AS (SELECT doc_id, list_transform(s, x -> md5(x)) AS h FROM sh),
        |fp AS (SELECT doc_id, CASE
        |         WHEN len(h) >= 4 THEN list_distinct(list_transform(
        |                generate_series(1, len(h)-3), i -> list_min(h[i:i+3])))
        |         WHEN len(h) > 0 THEN [list_min(h)]
        |         ELSE CAST([] AS VARCHAR[]) END AS f
        |       FROM hs)
        |SELECT doc_id, len(f) AS n_fp,
        |       md5(array_to_string(list_sort(f), ' ')) AS fp_digest
        |FROM fp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val fps = winnowFingerprints(col("text"), 4)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(fps).as("n_fp"),
          md5(concat_ws(" ", array_sort(fps))).as("fp_digest"))
        .orderBy("doc_id")
    },

    // PII scrubbing: redact emails then phone numbers, and report per-doc
    // redaction counts — the compliance pass a corpus runs before
    // training. Patterns stay in the Java-regex ∩ RE2 dialect (no
    // lookbehind/backrefs) so the Spark plan and the DuckDB oracle
    // compile the SAME expression; counts come from the pre-scrub text.
    //
    // Scale: pure row-local regexp map — zero shuffles, codegen'd
    // (regexp_replace/regexp_extract_all are native Catalyst
    // expressions, not UDFs).
    withOracle(
      "text_pii_scrub",
      s"""SELECT doc_id,
         |       regexp_replace(regexp_replace(text, '${TextOps.EmailPat}', '<EMAIL>', 'g'),
         |                      '${TextOps.PhonePat}', '<PHONE>', 'g') AS clean,
         |       len(regexp_extract_all(text, '${TextOps.EmailPat}')) AS n_emails,
         |       len(regexp_extract_all(text, '${TextOps.PhonePat}')) AS n_phones
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.piiScrub(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Markup strip — the crawl-cleaning stage upstream of everything
    // else in a web-corpus pipeline: drop tags, decode the five
    // standard HTML entities (&amp; LAST, the single-pass convention —
    // "&amp;lt;" decodes to "&lt;" the TEXT, not twice to "<"), then
    // collapse whitespace. Patterns stay in the Java-regex ∩ RE2
    // dialect (piiScrub discipline) so both engines compile the same
    // expressions. Row-local, zero shuffles — embarrassingly parallel
    // at any corpus size.
    withOracle(
      "text_html_strip",
      s"""SELECT doc_id,
         |       trim(regexp_replace(
         |         replace(replace(replace(replace(replace(
         |           regexp_replace(text, '${TextOps.TagPat}', ' ', 'g'),
         |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |           '&#39;', chr(39)), '&amp;', '&'),
         |         '\\s+', ' ', 'g')) AS text_clean,
         |       len(regexp_extract_all(text, '${TextOps.TagPat}')) AS n_tags
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      htmlStrip(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Language ID by fixed stopword profiles: per-doc argmax of profile
    // hits (ties lexicographic, no hits -> 'und'), aggregated per language.
    withOracle(
      "text_langid",
      s"""WITH prof(word, plang) AS (VALUES ${langProfilesValuesSql}),
         |tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
         |        FROM documents),
         |m AS (SELECT doc_id, plang, count(*) AS c
         |      FROM tok JOIN prof ON w = word GROUP BY doc_id, plang),
         |best AS (SELECT doc_id, plang,
         |               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, plang) AS rn
         |        FROM m)
         |SELECT coalesce(b.plang, 'und') AS pred_lang, count(*) AS n_docs
         |FROM documents d LEFT JOIN (SELECT doc_id, plang FROM best WHERE rn = 1) b
         |  USING (doc_id)
         |GROUP BY 1 ORDER BY pred_lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      langid(docs)
        .groupBy("pred_lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("pred_lang")
    },

    // End-to-end training-data prep: the composed cleaning pipeline a
    // 100 TB corpus runs before tokenization — quality gate (length +
    // stopword signal), exact dedup by content hash, then bag-fingerprint
    // near-dedup — keeping the smallest doc_id of each survivor group.
    // Each stage is one of the operators above; this declares their
    // composition end to end.
    withOracle(
      "pipeline_clean_corpus",
      """WITH q AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE n_chars >= 100
        |    AND len(string_split_regex(lower(text), '\s+')) >= 20),
        |exact AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |near AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           row_number() OVER (
        |             PARTITION BY md5(array_to_string(list_sort(list_distinct(
        |               string_split_regex(lower(text), '\s+'))), ' '))
        |             ORDER BY doc_id) AS rn
        |    FROM exact) WHERE rn = 1)
        |SELECT doc_id FROM near ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val q = Tables.documents(s, dir)
        .where(col("n_chars") >= 100 && size(tokens(col("text"))) >= 20)
      val exact = q
        .withColumn("rn",
          row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .where(col("rn") === 1).drop("rn")
      exact
        .withColumn("rn",
          row_number().over(Window.partitionBy(fingerprint(col("text"))).orderBy(col("doc_id"))))
        .where(col("rn") === 1)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },

    // Exact n-gram (3-shingle) Jaccard similarity join, threshold 0.1:
    // explode distinct shingles -> self-join on shingle -> intersection
    // counts -> Jaccard from set sizes.
    withOracle(
      "text_ngram_jaccard",
      s"""WITH ${TextOps.shinglePairCte()}
        |SELECT i, j, round(inter * 1.0 / (na.n + nb.n - inter), 4) AS jaccard
        |FROM pair JOIN sizes na ON i = na.doc_id JOIN sizes nb ON j = nb.doc_id
        |WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.1
        |ORDER BY i, j""".stripMargin) { (s, dir) =>
      // join on 64-bit shingle hashes, not strings: same intersection
      // counts (collision odds ~2^-65 per pair), far smaller shuffles
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"), shingleHashes(col("text"), 3).as("hs"))
      ngramJaccardPairsFromHashes(hashed, 0.1)
        .select(col("i"), col("j"), round(col("jac"), 4).as("jaccard"))
        .orderBy("i", "j")
    },

    // One-scan corpus report (the data card run before/after every
    // pipeline stage): per-language volume, token mass, mean quality
    // signal, and the exact-dup rate from distinct content hashes. The
    // distinct-count expands per group but groups are language-
    // cardinality; everything else is map-side partial aggregation over
    // a single corpus scan.
    withOracle(
      "corpus_report",
      """SELECT lang,
        |       count(*) AS n_docs,
        |       CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
        |         AS total_tokens,
        |       round(avg(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |             * 1.0 / len(string_split_regex(lower(text), '\s+'))), 4) AS avg_stop_ratio,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val sr = stopwordCount(col("text")) / size(tokens(col("text"))).cast("double")
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text")))).cast("long").as("total_tokens"),
          round(avg(sr), 4).as("avg_stop_ratio"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
        .orderBy("lang")
    },

    // Containment similarity join (inter / min(|A|,|B|), threshold 0.5):
    // the ASYMMETRIC dedup test Jaccard structurally misses — a short
    // doc quoted whole inside a long one scores inter/min = 1.0 while
    // its Jaccard ≈ |short|/|long| can sit under any threshold. This is
    // the quote/boilerplate-absorption tier of dedup (and the corpus-
    // side analogue of contamination_check's eval-side containment).
    // Same sparse shingle self-join + hot-shingle cap as the Jaccard
    // form; only the denominator changes.
    withOracle(
      "text_ngram_containment",
      s"""WITH ${TextOps.shinglePairCte()}
        |SELECT i, j, CAST(inter AS BIGINT) AS inter,
        |       round(inter * 1.0 / least(na.n, nb.n), 4) AS containment
        |FROM pair JOIN sizes na ON i = na.doc_id JOIN sizes nb ON j = nb.doc_id
        |WHERE inter * 1.0 / least(na.n, nb.n) >= 0.5
        |ORDER BY i, j""".stripMargin) { (s, dir) =>
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"), shingleHashes(col("text"), 3).as("hs"))
        .where(col("hs").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        val sh = hashed.select(col("doc_id"), explode(col("hs")).as("s"))
        val sizes = hashed.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
        withSizes(shinglePairs(sh, MaxShingleFreq, "containment shingle"), sizes)
          .withColumn("containment",
            col("inter") / least(col("ni"), col("nj")).cast("double"))
          .where(col("containment") >= 0.5)
          .select(col("i"), col("j"), col("inter"),
            round(col("containment"), 4).as("containment"))
          .orderBy("i", "j")
          .localCheckpoint()
      } finally hashed.unpersist()
    },

    // The full pretraining-data prep a 100 TB corpus runs end to end:
    // quality gate → language filter (keep predicted English) → exact
    // dedup by content hash → near-dedup (exact-Jaccard pairs clustered
    // via connected components, keep smallest doc) → per-doc token counts
    // of the surviving corpus. Every stage is one of the declared
    // operators; this is their composition, oracled as one SQL pipeline.
    withOracle(
      "pipeline_pretraining_corpus",
      s"""WITH RECURSIVE prof(word, plang) AS (VALUES ${langProfilesValuesSql}),
         |q AS (SELECT doc_id, text FROM documents
         |      WHERE n_chars >= 100
         |        AND len(string_split_regex(lower(text), '\\s+')) >= 20),
         |ltok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
         |         FROM q),
         |lm AS (SELECT doc_id, plang, count(*) AS c
         |       FROM ltok JOIN prof ON w = word GROUP BY doc_id, plang),
         |lbest AS (SELECT doc_id, plang,
         |                row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, plang) AS rn
         |         FROM lm),
         |en AS (SELECT q.doc_id, q.text FROM q
         |       LEFT JOIN (SELECT doc_id, plang FROM lbest WHERE rn = 1) b USING (doc_id)
         |       WHERE coalesce(b.plang, 'und') = 'en'),
         |exact AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM en) WHERE rn = 1),
         |${TextOps.shinglePairCte("exact")},
         |dup AS (SELECT i, j FROM pair JOIN sizes na ON i = na.doc_id
         |        JOIN sizes nb ON j = nb.doc_id
         |        WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.1),
         |edges AS (SELECT i AS a, j AS b FROM dup UNION SELECT j, i FROM dup),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach AS (SELECT node, node AS m FROM nodes
         |          UNION SELECT e2.b, r.m FROM reach r JOIN edges e2 ON e2.a = r.node),
         |cc AS (SELECT node, min(m) AS canonical FROM reach GROUP BY node)
         |SELECT e.doc_id,
         |       len(string_split_regex(lower(e.text), '\\s+')) AS n_tokens
         |FROM exact e LEFT JOIN cc ON cc.node = e.doc_id
         |WHERE cc.canonical IS NULL OR cc.canonical = e.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val exact = pretrainExactSurvivors(Tables.documents(s, dir))
      val hashed = exact.select(col("doc_id"), shingleHashes(col("text"), 3).as("hs"))
      pretrainApplyNearDedup(exact, ngramJaccardPairsFromHashes(hashed, 0.1))
    },

    // The SAME pipeline with the near-dedup stage on its 100 TB path:
    // MinHash band candidates (zero-shuffle row-local signatures, capped
    // buckets) → exact-Jaccard verify on candidates only → CC. The exact
    // form above self-joins the full shingle relation — right for an
    // oracle definition, quadratic-prone on a boilerplate-heavy corpus
    // even with the hot-shingle cap; this is the shape a production run
    // declares. Oracled against the SAME SQL as the exact pipeline: on
    // the test corpora every true dup pair collides in a band (dup sets
    // are near-identical docs, far above the 16×4 S-curve knee), so the
    // survivor sets agree — PretrainScaleSpec pins that equality, and
    // NearDedupSpec covers the recall tradeoff the bands make in general.
    withOracle(
      "pipeline_pretraining_corpus_scale",
      s"""WITH RECURSIVE prof(word, plang) AS (VALUES ${langProfilesValuesSql}),
         |q AS (SELECT doc_id, text FROM documents
         |      WHERE n_chars >= 100
         |        AND len(string_split_regex(lower(text), '\\s+')) >= 20),
         |ltok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
         |         FROM q),
         |lm AS (SELECT doc_id, plang, count(*) AS c
         |       FROM ltok JOIN prof ON w = word GROUP BY doc_id, plang),
         |lbest AS (SELECT doc_id, plang,
         |                row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, plang) AS rn
         |         FROM lm),
         |en AS (SELECT q.doc_id, q.text FROM q
         |       LEFT JOIN (SELECT doc_id, plang FROM lbest WHERE rn = 1) b USING (doc_id)
         |       WHERE coalesce(b.plang, 'und') = 'en'),
         |exact AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM en) WHERE rn = 1),
         |${TextOps.shinglePairCte("exact")},
         |dup AS (SELECT i, j FROM pair JOIN sizes na ON i = na.doc_id
         |        JOIN sizes nb ON j = nb.doc_id
         |        WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.1),
         |edges AS (SELECT i AS a, j AS b FROM dup UNION SELECT j, i FROM dup),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach AS (SELECT node, node AS m FROM nodes
         |          UNION SELECT e2.b, r.m FROM reach r JOIN edges e2 ON e2.a = r.node),
         |cc AS (SELECT node, min(m) AS canonical FROM reach GROUP BY node)
         |SELECT e.doc_id,
         |       len(string_split_regex(lower(e.text), '\\s+')) AS n_tokens
         |FROM exact e LEFT JOIN cc ON cc.node = e.doc_id
         |WHERE cc.canonical IS NULL OR cc.canonical = e.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val exact = pretrainExactSurvivors(Tables.documents(s, dir))
      pretrainApplyNearDedup(exact, NearDedup.minhashNearDups(exact, threshold = 0.1))
    },

    // Unigram-LM quality score (the KenLM-perplexity filter of
    // CCNet/RefinedWeb in its unigram form): per-doc mean negative
    // log-likelihood under corpus token frequencies. High nll = rare
    // vocabulary (specialist text or noise), low = common-word text;
    // pipelines cut the tails. Semantics and plan in unigramLogprob.
    //
    // The oracle is the unbounded form: with the default minCount=2
    // floor, an OOV token backs off to count minCount-1 = 1, which IS a
    // singleton's true count — floored and unbounded scores are equal by
    // construction, at any scale factor.
    withOracle(
      "text_unigram_logprob",
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |             FROM documents),
        |vc AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |n AS (SELECT sum(c) AS total FROM vc)
        |SELECT doc_id, round(avg(-ln(c * 1.0 / total)), 4) AS nll
        |FROM tok JOIN vc USING (t) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      unigramLogprob(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Interpolated BIGRAM LM score — one modeling step closer to the
    // KenLM-style n-gram filters real quality pipelines run:
    // P(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·c(w2)/N at λ = 0.75, per-doc
    // mean -ln over positions 2..n. Context-aware: "of the" scores far
    // better than "the of" though unigram NLL ties them. Docs shorter
    // than 2 tokens have no bigram positions and no row (both engines).
    //
    // Scale: counts are map-side-combined aggregates, and BOTH model
    // relations are bounded (bigram TYPES follow a heavier Heaps tail
    // than unigram types): the default graft.bigram.minCount=2 floor
    // drops singleton types — whose OOV backoff count equals their true
    // count, so the floored model scores EXACTLY like the unbounded one
    // and this oracle stays exact at any scale factor — and the
    // maxTypes/maxVocab guards demote each score join from broadcast to
    // shuffle when a floored relation outgrows memory. The bigram
    // relation itself rides a per-doc lead() window — document-bounded,
    // the spanScrub rebuild argument.
    withOracle(
      "text_bigram_logprob",
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
        |              FROM documents),
        |bg AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-1, 0))) AS i) g),
        |tok AS (SELECT doc_id, unnest(l) AS t FROM toks),
        |c1 AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |n AS (SELECT sum(c) AS total FROM c1)
        |SELECT bg.doc_id,
        |       round(avg(-ln(0.75 * c2.c * 1.0 / c1a.c
        |                     + 0.25 * c1b.c * 1.0 / total)), 4) AS nll
        |FROM bg
        |JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |JOIN c1 c1a ON bg.w1 = c1a.t
        |JOIN c1 c1b ON bg.w2 = c1b.t
        |CROSS JOIN n
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      bigramLogprob(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Interpolated TRIGRAM LM score (r15 task 4 — the KenLM-grade
    // fidelity step left on the quality-filter ladder):
    // P(w3|w1,w2) = 0.6·c(w1w2w3)/c(w1w2) + 0.3·c(w2w3)/c(w2) +
    // 0.1·c(w3)/N, per-doc mean -ln over positions 3..n. One order
    // deeper than the bigram — same-bigram-multiset docs separate here
    // (TextOpsSpec pins the case). Docs shorter than 3 tokens have no
    // row (both engines). The oracle computes the UNBOUNDED model with
    // inner joins; the Spark side's minCount=2 floors score identically
    // by construction (a floored singleton's backoff count is its true
    // count — the bigram invariant), so the oracle stays exact at any
    // scale factor. Scale story on [[trigramLogprob]].
    withOracle(
      "text_trigram_logprob",
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
        |              FROM documents),
        |tg AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-2, 0))) AS i) g),
        |bg AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-1, 0))) AS i) g),
        |tok AS (SELECT doc_id, unnest(l) AS t FROM toks),
        |c1 AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY w1, w2, w3),
        |n AS (SELECT sum(c) AS total FROM c1)
        |SELECT tg.doc_id,
        |       round(avg(-ln(0.6 * c3.c * 1.0 / c2a.c
        |                     + 0.3 * c2b.c * 1.0 / c1a.c
        |                     + 0.1 * c1b.c * 1.0 / total)), 4) AS nll
        |FROM tg
        |JOIN c3 ON tg.w1 = c3.w1 AND tg.w2 = c3.w2 AND tg.w3 = c3.w3
        |JOIN c2 c2a ON tg.w1 = c2a.w1 AND tg.w2 = c2a.w2
        |JOIN c2 c2b ON tg.w2 = c2b.w1 AND tg.w3 = c2b.w2
        |JOIN c1 c1a ON tg.w2 = c1a.t
        |JOIN c1 c1b ON tg.w3 = c1b.t
        |CROSS JOIN n
        |GROUP BY tg.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      trigramLogprob(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Incremental dedup: the nightly-crawl step — drop each NEW doc
    // (doc_id % 5 = 0 stands in for the new batch) that exactly or
    // nearly duplicates the EXISTING corpus, keep the rest. Exact stage
    // = content-hash anti-join; near stage = the bipartite form of the
    // capped exact Jaccard join at the pipeline threshold.
    //
    // Scale: the hash anti-join co-locates under a bucketed master
    // store; the bipartite shingle join is bounded by the same
    // hot-shingle cap as text_ngram_jaccard and only the NEW batch's
    // pairs materialize (never existing×existing). At 100 TB the near
    // stage routes through minhash bands exactly like
    // pipeline_pretraining_corpus_scale.
    withOracle(
      "dedup_incremental",
      TextOps.incrementalDedupOracleSql) { (s, dir) =>
      TextOps.incrementalDedup(Tables.documents(s, dir),
        col("doc_id") % 5 === 0, threshold = 0.1).orderBy("doc_id")
    },

    // Bloom-prefiltered incremental dedup: identical semantics to
    // dedup_incremental (same oracle SQL), but a bloom filter over the
    // EXISTING corpus's content hashes gates the exact anti-join and one
    // over the existing side's bounded shingles gates the bipartite
    // Jaccard join, so definitely-new rows never reach either exchange
    // (see BloomPrune). At 100 TB the nightly batch is a sliver of the
    // master store's key space — the blooms turn both shuffles from
    // O(new batch) to O(probable-dup slice), and no-false-negatives +
    // the exact downstream join/verify keep the result row-identical.
    withOracle(
      "dedup_incremental_bloom",
      TextOps.incrementalDedupOracleSql) { (s, dir) =>
      TextOps.incrementalDedupBloom(Tables.documents(s, dir),
        col("doc_id") % 5 === 0, threshold = 0.1).orderBy("doc_id")
    },

    // Token-repetition quality signals (Rae et al. 2021 "Gopher" §A.1.1
    // adapted to token granularity): total/distinct token counts and the
    // hottest token/bigram frequency per document. Integer counters only
    // — the repetition FRACTIONS (dup_token_frac = 1 - n_distinct/
    // n_tokens, top_bigram_frac = top_bigram_cnt/(n_tokens-1)) divide
    // exactly downstream, and integers keep the oracle hash exact.
    //
    // Scale: one compiled row-local pass (TokenRepetition native
    // expression — zero shuffles, PlanSpec-pinned). The declarative form
    // would explode the corpus's full token stream through a shuffle for
    // a logically per-row statistic.
    withOracle(
      "text_repetition",
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
        |              FROM documents),
        |tok AS (SELECT doc_id, unnest(l) AS t FROM toks),
        |tc AS (SELECT doc_id, count(*) AS n_distinct, max(c) AS top_token_cnt
        |       FROM (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
        |       GROUP BY 1),
        |bg AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS b
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-1, 0))) AS i) g),
        |bc AS (SELECT doc_id, max(c) AS top_bigram_cnt
        |       FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
        |       GROUP BY 1)
        |SELECT toks.doc_id, len(l) AS n_tokens, tc.n_distinct,
        |       tc.top_token_cnt,
        |       coalesce(bc.top_bigram_cnt, CAST(0 AS BIGINT)) AS top_bigram_cnt
        |FROM toks JOIN tc USING (doc_id) LEFT JOIN bc USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // null-text parity: the native expression would emit a null-stats
      // row while the oracle's inner JOIN drops the doc — filter
      // identically (latent at fixture scale: no null texts there)
      Tables.documents(s, dir)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.TextNative.tokenRepetition(col("text")).as("st"))
        .select(col("doc_id"), col("st.n_tokens"), col("st.n_distinct"),
          col("st.top_token_cnt"), col("st.top_bigram_cnt"))
        .orderBy("doc_id")
    },

    // Corpus-level duplicated-SPAN detection (Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better" §4.1, at
    // shingle rather than suffix-array granularity): an 8-token span that
    // appears verbatim in >= 2 distinct documents is "duplicated"; emit
    // per-doc span counts and the duplicated fraction — the filter signal
    // span-level dedup thresholds on. Complements text_exact_dedup /
    // near_dedup_* (document granularity) and text_repetition
    // (within-document): this is the cross-document span granularity.
    //
    // Scale: span signatures are distinct 64-bit FNV hashes from the
    // native one-pass ShingleHash64 expression (row-local, zero
    // shuffles); the corpus then shuffles once on span hash for the
    // >= 2-docs test and once on doc_id for the per-doc rollup. The
    // dup-span join is (hash,doc)-sparse — output cardinality equals its
    // input, so a boilerplate span hot key inflates one partition's rows
    // linearly, not quadratically (AQE skew split covers the tail). At
    // 100 TB, winnowFingerprints (already native) subsamples spans
    // ~2/(w+1) with the SIGMOD'03 shared-run guarantee when the full
    // span stream is too wide. Oracle counts span STRINGS; the engine
    // counts 64-bit hashes — identical absent FNV collisions (odds
    // ~n²/2⁶⁴, the text_ngram_jaccard assumption).
    withOracle(
      "text_span_dedup",
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS l
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ${(0 until SpanDedupN).map(k => s"l[i+$k]").mkString(" || ' ' || ")} AS s
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-${SpanDedupN - 1}, 0))) AS i) g),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
        |per AS (SELECT doc_id, count(*) AS n_spans FROM sh GROUP BY doc_id),
        |dpd AS (SELECT doc_id, count(*) AS n_dup FROM sh JOIN dup USING (s) GROUP BY doc_id)
        |SELECT per.doc_id, per.n_spans,
        |       coalesce(dpd.n_dup, CAST(0 AS BIGINT)) AS n_dup_spans,
        |       round(coalesce(dpd.n_dup, 0) * 1.0 / per.n_spans, 4) AS dup_ratio
        |FROM per LEFT JOIN dpd USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      spanDedup(Tables.documents(s, dir), SpanDedupN).orderBy("doc_id")
    },

    // Exact-substring dedup REMOVAL (Lee et al. 2022: deduplicate the
    // training set by DELETING repeated substrings, keeping one
    // occurrence) — the corpus-editing action the text_span_dedup
    // statistics drive. Every n-token span occurring >= 2 times
    // corpus-wide keeps its globally FIRST occurrence (min (doc_id,
    // position)); every other occurrence's tokens are deleted and the
    // documents are rebuilt from the survivors (whitespace-normalized).
    // Raw tokens, not lowercased: the output is training text, and
    // scrubbing must not rewrite case. Scale shape: span hashes key
    // every shuffle (64-bit, never span strings), coverage fan-out is
    // linear in occurrence count (a boilerplate mega-span costs its
    // occurrences, never occurrences²), and the rebuild groups by doc —
    // bounded by document length.
    // SIZE-ROUTED since r17 (the graft.neardedup.exactMaxRows pattern):
    // SCALING_r16 measured the direct plan's final decade at 1.10-1.13 —
    // it shuffles one span hash per token position corpus-wide, the one
    // real scale-killer left in the suite — while the windowed twin
    // measures ~1.0 on the same corpus. The two plans share this oracle
    // verbatim, so the route is PROVABLE: below
    // `graft.spanscrub.directMaxRows` the direct oracle-definition plan
    // runs (cheapest at fixture scale), above it the winnowed plan —
    // callers can no longer pick the wrong plan at scale by naming the
    // wrong ID.
    withOracle(
      "text_span_scrub",
      spanScrubOracleSql) { (s, dir) =>
      spanScrubRouted(Tables.documents(s, dir), SpanDedupN).orderBy("doc_id")
    },

    // The 100 TB plan for the same operator: winnow-subsampled
    // duplicated-REGION discovery, exact scrub over candidate docs only,
    // row-local rebuild for the rest (see spanScrubWindowed). Same
    // semantics — it shares text_span_scrub's oracle VERBATIM, so the
    // driver independently proves the two plans agree; SpanScrubSpec
    // additionally pins that the heavy pass saw only candidate docs.
    withOracle(
      "text_span_scrub_windowed",
      spanScrubOracleSql) { (s, dir) =>
      spanScrubWindowed(Tables.documents(s, dir), SpanDedupN).orderBy("doc_id")
    }
  )

  /** Shared DuckDB oracle for text_span_scrub AND its windowed twin —
    * one semantics, two plans.
    */
  private def spanScrubOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents),
        |sp AS (SELECT doc_id, i AS pos, array_to_string(l[i:i+${SpanDedupN - 1}], ' ') AS s
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(l)-${SpanDedupN - 1}, 0))) AS i) g),
        |keep AS (SELECT s, min(struct_pack(d := doc_id, p := pos)) AS kp
        |         FROM sp GROUP BY s HAVING count(*) >= 2),
        |cov AS (SELECT sp.doc_id, sp.pos FROM sp JOIN keep USING (s)
        |        WHERE sp.doc_id <> kp.d OR sp.pos <> kp.p),
        |covered AS (SELECT DISTINCT doc_id, pos + off AS pos
        |            FROM cov, LATERAL (SELECT unnest(generate_series(0, ${SpanDedupN - 1})) AS off) o),
        |tok AS (SELECT doc_id, i AS pos, l[i] AS t FROM toks,
        |        LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) g),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.t FROM tok
        |         LEFT JOIN covered c ON tok.doc_id = c.doc_id AND tok.pos = c.pos
        |         WHERE c.pos IS NULL),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               string_agg(t, ' ' ORDER BY pos) AS text_clean
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(agg.text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** Corpus-size routing knob for the span-scrub family
    * (`graft.spanscrub.directMaxRows`, default 200000): at or below it
    * [[spanScrubRouted]] runs the direct oracle-definition plan
    * ([[spanScrub]] — cheapest at fixture scale, and exactly the shape
    * the DuckDB SQL computes); above it, the winnowed two-pass plan
    * ([[spanScrubWindowed]]). SCALING_r16 measured the direct plan's
    * final decade (100k → 1M docs) at exponent 1.10-1.13 — its
    * span-per-token corpus-wide shuffle is superlinear once spills start
    * — while the windowed plan holds ~1.0 on the same corpus; 200000
    * sits under that measured onset with the fixtures (≤5000 docs)
    * comfortably on the direct side. Same routing pattern as
    * `graft.neardedup.exactMaxRows`.
    */
  private[graft] def spanScrubDirectMaxRows(
      s: org.apache.spark.sql.SparkSession): Long =
    GraftConf.SpanScrubDirectMaxRows(s).toLong

  /** Volume-routed exact-substring scrub: [[spanScrub]] at or below
    * [[spanScrubDirectMaxRows]] rows, [[spanScrubWindowed]] above. The
    * two plans are output-identical (they share the oracle verbatim;
    * SpanScrubSpec pins forced-route ≡ direct), so routing changes cost,
    * never answers. The row probe is the [[graft.model.RowEst]] metadata
    * upper bound when one exists (free — no job; r17 ADVICE flagged the
    * eager `docs.count()` here recomputing a DERIVED input once per
    * invocation just to route); a plan the bound abstains on falls back
    * to counting, and over-counting routes to the windowed plan, which
    * is oracle-identical at any size.
    */
  def spanScrubRouted(docs: DataFrame, n: Int): DataFrame = {
    val rows = graft.model.RowEst.upperBound(docs).getOrElse(docs.count())
    if (rows <= spanScrubDirectMaxRows(docs.sparkSession)) spanScrub(docs, n)
    else spanScrubWindowed(docs, n)
  }

  /** Exact-substring removal (Lee et al. 2022): delete every non-first
    * occurrence of each corpus-duplicated n-token span and rebuild the
    * documents from the surviving tokens. "First" is the lexicographic
    * (doc_id, position) minimum, taken as a struct min in both engines
    * — exact at any document length or id range. Spans ride 64-bit
    * hashes through every shuffle (the text_ngram_jaccard collision
    * argument); the rebuild is a per-doc array_sort over collected
    * (pos, token) structs — bounded by document length, never
    * corpus-shaped.
    */
  def spanScrub(docs: DataFrame, n: Int): DataFrame = {
    // one codegen'd pass per doc for all span hashes (SpanHash64:
    // positional, raw-case, order-preserving) — not an interpreted
    // transform/slice/concat lambda allocating per span
    val sp = docs
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graft.TextNative.spanHash64(col("text"), n))
        .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    // duplicated spans with their keeper occurrence, one row per span.
    // The keeper is the lexicographic min over (doc_id, pos) STRUCTS —
    // not an arithmetic doc_id·K + pos encoding, which silently picks a
    // wrong keeper once a document exceeds K tokens and overflows Long
    // on large ids; struct ordering is exact at any scale and min() on
    // structs is map-side combinable in both engines.
    val keep = sp.groupBy("h")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("kp"))
      .where(col("cnt") >= 2)
      .select(col("h"), col("kp.doc_id").as("kd"), col("kp.pos").as("kpos"))
    val covered = sp.join(keep, "h")
      .where(col("doc_id") =!= col("kd") || col("pos") =!= col("kpos"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val tok = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("t"))
    val rebuilt = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("t")))),
          x => x.getField("t"))).as("text_clean"))
    docs.select("doc_id").join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** The 100 TB form of [[spanScrub]] — IDENTICAL output (it shares
    * text_span_scrub's oracle verbatim), but the corpus-wide span
    * shuffle is replaced by a winnowed two-pass plan:
    *
    *   1. WINNOW (find duplicated regions): per doc, 3-gram span hashes
    *      (row-local codegen) are subsampled by winnowing with window
    *      `w = n - 2` — position p is a fingerprint iff its hash is the
    *      minimum of some complete w-window containing it (the
    *      all-ties-selected variant: deterministic, engine-pure, and a
    *      superset of standard winnowing so the SIGMOD'03 guarantee
    *      holds). Guarantee: any duplicated run of >= w + 3 - 1 = n
    *      TOKENS — in particular every duplicated n-token span —
    *      selects the same fingerprint hash in both occurrences
    *      (including two occurrences inside ONE doc: both positions
    *      beat their windows, and selection keeps positional
    *      multiplicity). So `count(fingerprint) >= 2` over the
    *      subsampled stream finds every doc holding a scrub-relevant
    *      span; extra candidates (hash ties, periodic text) only cost
    *      pass-2 work, never correctness.
    *   2. EXACT SCRUB, candidates only: [[spanScrub]] runs over the
    *      candidate docs — which the guarantee proves contain EVERY
    *      occurrence of every corpus-duplicated n-span, so keeper
    *      choice (global min (doc_id, pos)) and coverage are exactly
    *      the full-corpus answer. Non-candidates take a ROW-LOCAL
    *      rebuild (token count + whitespace normalization; no shuffle).
    *
    * Cost: the corpus-wide shuffle runs over ~2/(w+1) winnowed
    * fingerprints instead of every span, and the heavy scrub machinery
    * (span join, coverage explode, anti-join, per-doc rebuild) touches
    * only docs that actually hold duplicated regions — on a mostly-clean
    * corpus that is the boilerplate sliver, not the corpus. The per-doc
    * windows (winnow min, length gate) are bounded by document length,
    * the same argument as spanScrub's rebuild.
    */
  def spanScrubWindowed(docs: DataFrame, n: Int): DataFrame = {
    val candidates = winnowScrubCandidates(docs, n)
      .localCheckpoint() // tiny (candidate doc ids); feeds semi AND anti
    val scrubbed = spanScrub(docs.join(candidates, Seq("doc_id"), "left_semi"), n)
    val untouched = docs.join(candidates, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        coalesce(size(split(col("text"), "\\s+")).cast("long"), lit(0L)).as("n_kept"),
        when(col("text").isNull, lit(""))
          .otherwise(concat_ws(" ", split(col("text"), "\\s+"))).as("text_clean"))
    scrubbed.unionByName(untouched)
  }

  /** Pass 1 of [[spanScrubWindowed]]: doc ids that MAY contain an
    * occurrence of a corpus-duplicated n-token span, found from the
    * winnow-subsampled fingerprint stream (window w = n - 2 over 3-gram
    * span hashes; selection = every position whose hash is the min of
    * some complete window containing it). Guaranteed a SUPERSET of the
    * docs text_span_scrub would edit — see spanScrubWindowed's scaladoc
    * for the guarantee argument. Useful standalone as a cheap
    * "boilerplate-region" doc filter.
    */
  def winnowScrubCandidates(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 4, s"windowed scrub needs n >= 4 (w = n - 2 >= 2), got $n")
    val w = n - 2
    val sp = docs
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graft.TextNative.spanHash64(col("text"), 3))
        .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("h"))
    val wDoc = Window.partitionBy("doc_id")
    val wFwd = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    val wBack = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(w - 1), Window.currentRow)
    // Selection rule, window-only (no self-join — a doc repeating one
    // token would turn a (doc,h)-keyed join quadratic with no hot cap):
    // position p is selected iff some complete window containing p has
    // min == h[p]. Every window [s, s+w-1] containing p has
    // wmin[s] <= h[p], so "∃s: wmin[s] == h[p]" ⟺
    // "max of wmin over s ∈ [p-w+1, p] == h[p]" — one forward window
    // min (complete windows only: truncated tails can't certify a run,
    // while a run ending at the doc's last token still contains a
    // complete window; incomplete starts carry NULL, which max skips)
    // and one backward window max per position, both doc-bounded.
    val selected = sp
      .withColumn("m", count(lit(1)).over(wDoc))
      .withColumn("wmin",
        when(col("p") <= col("m") - w + 1, min("h").over(wFwd)))
      .withColumn("selmax", max("wmin").over(wBack))
      .where(col("selmax") === col("h"))
      .select("doc_id", "p", "h")
    val dupFp = selected.groupBy("h")
      .agg(count(lit(1)).as("c")).where(col("c") >= 2).select("h")
    selected.join(dupFp, "h").select("doc_id").distinct()
  }

  /** Per-doc duplicated-span statistics: docs with >= 1 span (>= n
    * tokens) emit (doc_id, n_spans, n_dup_spans, dup_ratio); shorter
    * docs have no spans and no row, in engine and oracle alike.
    */
  def spanDedup(docs: DataFrame, n: Int): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(shingleHashes(col("text"), n)).as("h"))
    val dup = sh.groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("h")
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = sh.join(dup, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup"), lit(0L)) * lit(1.0) / col("n_spans"), 4)
          .as("dup_ratio"))
  }

  /** The pre-dedup pretraining funnel: quality gate + language filter
    * fused into ONE row-local pass over the corpus scan (predLang is a
    * column, so no join back — at 100 TB the whole pre-near-dedup funnel
    * is a single map over the data), then exact dedup by content hash.
    * The survivor set feeds three subtrees (shingling, the CC join, the
    * final projection) — materialized once so the upstream chain doesn't
    * run three times.
    */
  private def pretrainExactSurvivors(docs: DataFrame): DataFrame =
    pretrainFilter(docs)
      .withColumn("rn",
        row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .where(col("rn") === 1).drop("rn")
      .localCheckpoint()

  /** The quality gate and language filter of the funnel above. */
  private[graft] def pretrainFilter(docs: DataFrame): DataFrame =
    docs.where(col("n_chars") >= 100 &&
      size(tokens(col("text"))) >= 20 && predLang(col("text")) === "en")

  /** Near-dedup APPLY over a (doc_id, text) survivor set given its dup
    * pairs (i, j): cluster via connected components, keep the smallest
    * doc per cluster, emit per-doc token counts in doc order.
    */
  private def pretrainApplyNearDedup(exact: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = GraphOps.connectedComponents(
      pairs.select(col("i").as("src"), col("j").as("dst")))
    exact.join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left_outer")
      .where(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Per-doc predicted language from the fixed stopword profiles,
    * computed ROW-LOCALLY by [[predLang]] — zero shuffles. The profiles
    * are 40 constant words, so nothing here needs the (explode →
    * broadcast-join → groupBy → window) relational form, which shuffles
    * the full token relation twice; at 100 TB language ID must be a
    * map-only pass over the corpus.
    */
  def langid(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), predLang(col("text")).as("pred_lang"))

  /** The row-local language prediction as a plain column — composable
    * into any pipeline without a join back to the source relation. One
    * codegen'd pass over the text's bytes (TextNative's `PredLang`):
    * profile hits per language, duplicates included, argmax with
    * lexicographic tie-break, no hits → 'und'.
    */
  def predLang(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.TextNative.predLang(text)

  /** Shared oracle for dedup_incremental and dedup_incremental_bloom —
    * the bloom prefilters cannot change the result (no false negatives;
    * false positives die in the exact join), so both run the plain SQL.
    */
  def incrementalDedupOracleSql: String =
    // bipair joins the CAPPED shingle relation (shj) like the engine's
    // dropHotBuckets side — the same-cap invariant shinglePairCte's
    // scaladoc states; joining the raw `sh` would diverge on any corpus
    // with a >MaxShingleFreq boilerplate shingle
    s"""WITH ${shinglePairCte()},
       |bipair AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
       |           FROM shj a JOIN shj b
       |             ON a.s = b.s AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
       |           GROUP BY 1, 2),
       |neardrop AS (SELECT DISTINCT j FROM bipair
       |             JOIN sizes na ON i = na.doc_id JOIN sizes nb ON j = nb.doc_id
       |             WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.1),
       |exactdrop AS (SELECT DISTINCT d.doc_id AS j FROM documents d
       |              JOIN documents e ON md5(d.text) = md5(e.text)
       |              WHERE d.doc_id % 5 = 0 AND e.doc_id % 5 <> 0)
       |SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS n_tokens
       |FROM documents
       |WHERE doc_id % 5 = 0
       |  AND doc_id NOT IN (SELECT j FROM neardrop UNION SELECT j FROM exactdrop)
       |ORDER BY doc_id""".stripMargin

  /** Surviving NEW docs after dedup against the EXISTING corpus: drops
    * rows matching `isNew` whose content hash appears in the existing
    * side (exact) or whose 3-shingle Jaccard against ANY existing doc
    * reaches `threshold` (near). Emits (doc_id, n_tokens) of survivors —
    * the shape the ingest step appends to the master corpus.
    */
  def incrementalDedup(docs: DataFrame, isNew: org.apache.spark.sql.Column,
      threshold: Double, maxShingleFreq: Int = MaxShingleFreq): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("text"), isNew.as("is_new"),
        shingleHashes(col("text"), 3).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val exactDrop = base.where(col("is_new"))
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(base.where(!col("is_new")).select(md5(col("text")).as("h")).distinct(), "h")
        .select("doc_id")
      // one capped shingle relation for BOTH sides: the cap counts a
      // shingle's total frequency across old+new, as the quadratic
      // fan-out it guards against is the product of the two sides
      val sh = base.select(col("doc_id"), col("is_new"), explode(col("hs")).as("s"))
      val bounded = NearDedup.dropHotBuckets(sh, Seq("s"), maxShingleFreq,
        "incremental-dedup shingle")
      val sizes = base.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
      val inter = bounded.where(!col("is_new")).select(col("doc_id").as("i"), col("s"))
        .join(bounded.where(col("is_new")).select(col("doc_id").as("j"), col("s")), "s")
        .groupBy("i", "j").agg(count(lit(1)).as("inter"))
      val nearDrop = jaccardAtLeast(inter, sizes, threshold).select(col("j").as("doc_id"))
      base.where(col("is_new"))
        .join(exactDrop.unionAll(nearDrop).distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
        .localCheckpoint() // materialize the small survivor set, free the cache
    } finally base.unpersist()
  }

  /** [[incrementalDedup]] with bloom prefilters on both join inputs: the
    * new batch's content hashes are gated by a bloom over the EXISTING
    * corpus's hashes before the exact-dup join, and the new side's
    * bounded shingle rows by a bloom over the existing side's bounded
    * shingles before the bipartite Jaccard join. A pruned row provably
    * contributes nothing (blooms have no false negatives and both
    * downstream joins are exact equi-joins on the bloomed key), so the
    * survivor set is row-identical to [[incrementalDedup]] — only the
    * shuffled volume changes. That is the 100 TB win: the nightly batch
    * mostly does NOT collide with the master store, and the ~1 %-FPP
    * filters keep those rows out of both exchanges entirely.
    */
  def incrementalDedupBloom(docs: DataFrame, isNew: org.apache.spark.sql.Column,
      threshold: Double, maxShingleFreq: Int = MaxShingleFreq): DataFrame = {
    import org.apache.spark.sql.graft.BloomPrune
    val base = docs
      .select(col("doc_id"), col("text"), isNew.as("is_new"),
        shingleHashes(col("text"), 3).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the bounded shingle relation is read four ways below (bloom build,
    // sizing count, old-side join input, new-side prefilter) — persist it
    // too, or dropHotBuckets' frequency aggregate reruns per consumer
    val sh = base.select(col("doc_id"), col("is_new"), explode(col("hs")).as("s"))
    val bounded = NearDedup.dropHotBuckets(sh, Seq("s"), maxShingleFreq,
      "incremental-dedup-bloom shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val existingHashes = base.where(!col("is_new"))
        .select(md5(col("text")).as("h")).distinct()
      val hashBloom = BloomPrune.buildBloom(
        existingHashes, col("h"), base.where(!col("is_new")).count())
      val exactDrop = base.where(col("is_new"))
        .select(col("doc_id"), md5(col("text")).as("h"))
        .where(BloomPrune.mightContain(hashBloom, col("h")))
        .join(existingHashes, "h")
        .select("doc_id")
      val oldSh = bounded.where(!col("is_new")).select(col("doc_id").as("i"), col("s"))
      val newSh = bounded.where(col("is_new")).select(col("doc_id").as("j"), col("s"))
      // row count (not distinct) as expectedItems: a conservative
      // overestimate only lowers the false-positive rate
      val shingleBloom = BloomPrune.buildBloom(oldSh, col("s"), oldSh.count())
      val sizes = base.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
      val inter = oldSh
        .join(newSh.where(BloomPrune.mightContain(shingleBloom, col("s"))), "s")
        .groupBy("i", "j").agg(count(lit(1)).as("inter"))
      val nearDrop = jaccardAtLeast(inter, sizes, threshold).select(col("j").as("doc_id"))
      base.where(col("is_new"))
        .join(exactDrop.unionAll(nearDrop).distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
        .localCheckpoint() // materialize the small survivor set, free the caches
    } finally { bounded.unpersist(); base.unpersist() }
  }

  // (MaxShingleFreq is declared ABOVE shinglePairCte/defs — the oracle
  // SQL interpolates it eagerly at object init, same rule as SpanDedupN.)

  /** Exact Jaccard from a per-doc distinct-shingle-hash ARRAY relation
    * (doc_id, hs): set sizes come row-locally from the array length (zero
    * shuffle — the exploded-relation form aggregated the full shingle
    * relation just to recover the size) and only the self-join shuffles.
    * Returns (i, j, inter, jac) for i < j with jac >= threshold.
    *
    * `maxShingleFreq` is the at-scale hot-key guard: shingles appearing in
    * more than that many docs are dropped from the JOIN (set sizes stay
    * exact), with the same `[graft]` drop report as the banded paths.
    * Dropped shingles no longer contribute to intersection counts, so
    * pairs whose overlap is mostly corpus-wide boilerplate score lower
    * and can fall under the threshold — which is the point: such overlap
    * is not document similarity. Pass `Int.MaxValue` to disable.
    */
  def ngramJaccardPairsFromHashes(docHashes: DataFrame, threshold: Double,
      maxShingleFreq: Int = MaxShingleFreq): DataFrame = {
    // the array relation feeds both join sides; cache the (compact,
    // pre-explode) form, eagerly materialize the small thresholded result,
    // and release the cache — a session running many queries must not
    // accumulate cached blocks
    val hs = docHashes.where(col("hs").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try ngramJaccardPairsFromHashesUnmanaged(hs, threshold, maxShingleFreq)
    finally hs.unpersist()
  }

  /** [[ngramJaccardPairsFromHashes]] without the internal persist — for
    * callers whose (doc_id, hs) relation is ALREADY cached (the
    * incremental near-dedup forms' prior-state pair generation derives
    * it by filtering a persisted relation; re-persisting that projection
    * doubled the cache residency for the duration of the pair job).
    */
  private[operators] def ngramJaccardPairsFromHashesUnmanaged(
      hsRaw: DataFrame, threshold: Double,
      maxShingleFreq: Int = MaxShingleFreq): DataFrame = {
    val hs = hsRaw.where(col("hs").isNotNull)
    val sh = hs.select(col("doc_id"), explode(col("hs")).as("s"))
    val sizes = hs.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    jaccardFromParts(sh, sizes, threshold, maxShingleFreq).localCheckpoint()
  }

  /** Exact Jaccard over an exploded (doc_id, s) relation when no array
    * form exists. Prefer [[ngramJaccardPairsFromHashes]].
    */
  def ngramJaccardPairs(shRaw: DataFrame, threshold: Double,
      maxShingleFreq: Int = MaxShingleFreq): DataFrame = {
    val sh = shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      jaccardFromParts(sh, sizes, threshold, maxShingleFreq).localCheckpoint()
    } finally sh.unpersist()
  }

  /** The shared sparse-similarity scaffolding: intersection counts
    * (i, j, inter) of the pairs sharing a shingle of the exploded
    * (doc_id, s) relation, through the hot-capped bucket self-join
    * ([[NearDedup.bucketPairs]]). Jaccard and containment are DERIVED
    * metrics over this one shape — keeping the cap/join pattern in a
    * single place (its semantics have already changed once; two copies
    * drift).
    */
  private def shinglePairs(sh: DataFrame, maxShingleFreq: Int, what: String): DataFrame =
    NearDedup.bucketPairs(sh, "doc_id", Seq("s"), maxShingleFreq, what)
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))

  /** (i, j, inter) intersection counts joined to both endpoints' set
    * sizes from `sizes` (doc_id, n): (i, j, inter, ni, nj).
    */
  private def withSizes(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), "i")
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), "j")

  /** [[withSizes]] plus `jac` = inter / (ni + nj − inter), kept where
    * jac ≥ threshold: the one Jaccard tail of the exact self-join and
    * the incremental bipartite forms.
    */
  private[operators] def jaccardAtLeast(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    withSizes(inter, sizes)
      .withColumn("jac", col("inter") / (col("ni") + col("nj") - col("inter")).cast("double"))
      .where(col("jac") >= threshold)

  private def jaccardFromParts(sh: DataFrame, sizes: DataFrame,
      threshold: Double, maxShingleFreq: Int): DataFrame =
    jaccardAtLeast(shinglePairs(sh, maxShingleFreq, "exact-jaccard shingle"), sizes, threshold)
}
