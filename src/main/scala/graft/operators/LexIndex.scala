package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent inverted (posting-list) index for lexical BM25 serving —
  * the lexical sibling of [[VectorIndex]], and the "posting-list index at
  * 100 TB" scale path [[TextOps.bm25Scores]]' scaladoc promises made
  * real code (reference analogue: the batch layer precomputing what
  * query time should not — BatchWorkflow.java's precomputed views).
  *
  * Layout under `dir` — a [[graft.model.LevelStore]] partitioned by
  * bucket (commit, crash story, compaction and its grace window live
  * there):
  *   - `postings/bucket=<pmod(xxhash64(t), nBuckets)>/seq=<n>/` —
  *     (doc_id, t, tf, dl), level n: the document length rides
  *     DENORMALIZED on every posting (the norms-in-postings trick real
  *     engines use), so query time never joins a corpus-sized
  *     doc-length table.
  *   - `stats/` — the commit row: (n_docs, sum_dl, avgdl, n_buckets)
  *     plus the level window — the corpus constants and the recorded
  *     bucket modulus, so reads are self-describing (no caller-supplied
  *     nBuckets to get wrong).
  *
  * A query reads ONLY its terms' bucket partitions (partition-pruned
  * scan: ≤ |qTerms| of nBuckets directories, spec-pinned), filters to
  * the exact terms inside them, and evaluates the SAME scoring
  * expression tree as the direct form — text_bm25_indexed therefore
  * shares text_bm25_topk's oracle SQL verbatim and the driver proves
  * index ≡ direct scan.
  *
  * At 100 TB the build is one `doc_id` shuffle of the token stream
  * (term counts and doc lengths together) plus one bucket-partitioned
  * write, and the corpus constants are summed from the written postings;
  * an append is the same at batch size (one file per touched bucket); a
  * query touches query-term-sized data only — posting lists
  * for 3 terms, never the corpus. [[maintain]] folds the accumulated
  * levels back into one (one file per bucket).
  */
object LexIndex {

  val levels = new graft.model.LevelStore("postings", "stats", Some("bucket"),
    new StructType().add("n_docs", LongType).add("sum_dl", DoubleType)
      .add("avgdl", DoubleType).add("n_buckets", IntegerType),
    _ => new StructType().add("doc_id", LongType).add("t", StringType)
      .add("tf", LongType).add("dl", DoubleType),
    "lex index")

  val DefaultBuckets = 64

  /** Floor/ceiling for [[autoBuckets]] and its sizing target: an
    * auto-sized build aims for ceil(rows / DefaultDocsPerBucket) buckets
    * clamped to [DefaultMinBuckets, DefaultMaxBuckets]. Rationale: every
    * append writes ~1 file per TOUCHED bucket and every recover/list
    * walks all of them, so the bucket count must GROW with the corpus —
    * a fixed modulus is simultaneously too many dirs for a 5 k-doc
    * corpus (64 near-empty files per mutation, measured 4-8× the build
    * wall at sf0.1) and far too few for a 10 B-doc one (each bucket's
    * posting slice would be ~1/64 of the corpus, unboundedly large).
    * A deployment whose buckets' postings outgrow the low hundreds of MB
    * changes these constants (or passes `nBuckets` to [[build]]); the
    * values below keep the local bench honest (derived from the input's
    * actual row metadata, never from the core count).
    */
  val DefaultDocsPerBucket = 2048L
  val DefaultMinBuckets = 4
  val DefaultMaxBuckets = 4096

  /** Scale-adaptive bucket count (sizing above), with rows from parquet footer metadata
    * ([[graft.model.RowEst]] — no job); [[DefaultBuckets]] when the
    * relation carries no free row bound (the estimate must never cost a
    * pass over the corpus it is trying to size).
    */
  def autoBuckets(docs: DataFrame): Int =
    graft.model.RowEst.upperBound(docs) match {
      case Some(rows) =>
        val per = DefaultDocsPerBucket
        math.min(DefaultMaxBuckets.toLong,
          math.max(DefaultMinBuckets.toLong, (rows + per - 1) / per)).toInt
      case None => DefaultBuckets
    }

  /** The query terms' bucket ids under the store's recorded modulus,
    * computed by evaluating the SAME Catalyst expressions the build's
    * bucket column uses (`Pmod(XxHash64(term), nBuckets)`) on the
    * driver — identical hashing by construction (shared expression
    * classes, never a reimplementation that could drift), and zero
    * Spark jobs: the previous `spark.range(1).select(...).head()` probe
    * paid a defaultParallelism-task job per indexed read just to hash a
    * handful of string literals.
    */
  private def termBuckets(qTerms: Seq[String], nBuckets: Long): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    qTerms.map { t =>
      Pmod(new XxHash64(Seq(Literal(t))), Literal(nBuckets))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
    }.distinct
  }

  /** The batch's postings (doc_id, t, tf, dl), tokenizing `docs` once.
    * ONE `doc_id` shuffle serves both the (doc_id, t) count and the
    * per-doc length: hash-partitioning on doc_id satisfies the
    * (doc_id, t) aggregate's distribution and the doc-length window's
    * alike, so neither adds an exchange, and dl rides onto every posting
    * without a join or a cache.
    */
  private def postingRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .where(col("t") =!= "")
      .repartition(col("doc_id"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")).cast("double"))

  /** Write `docs`' postings as level `seq` (partitioned by bucket under
    * the modulus `nBuckets`) and return the commit-row fields with the
    * level's (docs, sum of doc lengths) added to `prevDocs`/`prevDl`,
    * read back from the level just written — one small aggregate over
    * the batch's postings, no second pass over the text. A doc's
    * postings carry tf summing to its dl, so Σ tf is the level's Σ dl
    * and Σ tf/dl counts its docs (each doc adds 1 up to rounding error
    * far below ½ for any batch, hence the round). avgdl is 0 for an
    * index without documents (an empty bootstrap batch).
    */
  private def writeLevel(spark: SparkSession, docs: DataFrame, dir: String,
      nBuckets: Int, seq: Int, prevDocs: Long, prevDl: Double): Seq[Any] = {
    levels.writeLevel(
      postingRows(docs).withColumn("bucket", pmod(xxhash64(col("t")), lit(nBuckets.toLong))),
      dir, seq)
    // the schema is given, so the read infers none (inference is a job)
    val totals = spark.read.schema("tf long, dl double, seq int")
      .parquet(levels.dataDir(dir))
      .where(col("seq") === lit(seq))
      .agg(round(sum(col("tf") / col("dl"))).cast("long"), sum("tf"))
      .head()
    // zero-row level: no postings, both sums NULL
    val nDocs = prevDocs + (if (totals.isNullAt(0)) 0L else totals.getLong(0))
    val sumDl = prevDl + (if (totals.isNullAt(1)) 0.0 else totals.getLong(1).toDouble)
    Seq(nDocs, sumDl, if (nDocs == 0) 0.0 else sumDl / nDocs, nBuckets)
  }

  /** Build the index from `docs` (doc_id, text, …) into a dir that has
    * never committed a build (see [[graft.model.LevelStore.build]]).
    * `nBuckets` 0 (the default) sizes the modulus from the corpus's row
    * metadata ([[autoBuckets]]); reads resolve the recorded n_buckets
    * either way, so the choice only routes file layout, never results.
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
      nBuckets: Int = 0, batchId: Long = -1L): Unit = {
    // negative moduli are a caller BUG and must fail loudly, not silently
    // reroute to auto (r18 advice)
    require(nBuckets >= 0,
      s"nBuckets must be >= 0 (0 = auto-size from corpus metadata), got $nBuckets")
    val buckets = if (nBuckets > 0) nBuckets else autoBuckets(docs)
    require(buckets >= 1, s"need nBuckets >= 1, got $buckets")
    levels.build(spark, dir, batchId)(seq =>
      writeLevel(spark, docs, dir, buckets, seq, 0L, 0.0))
  }

  /** Whether a COMMITTED build exists at `dir` — the bootstrap probe for
    * an append loop (`stream_lex_append`'s fold).
    */
  def isBuilt(spark: SparkSession, dir: String): Boolean = levels.isBuilt(spark, dir)

  /** Append `docs` to an existing index — EXACT, unlike PQ append (no
    * codebooks to go stale): new postings land in their terms' buckets
    * under the store's RECORDED modulus, document lengths are per-doc so
    * existing postings never change, document frequency is computed at
    * query time from the postings themselves, and the corpus constants
    * merge from the running (n_docs, sum_dl) totals. build + append ≡
    * one build over the union — the declared query proves it against
    * the direct form's oracle verbatim.
    */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L): Unit =
    levels.append(spark, dir, batchId) { (prev, seq) =>
      writeLevel(spark, docs, dir, prev.getAs[Int]("n_buckets"), seq,
        prev.getAs[Long]("n_docs"), prev.getAs[Double]("sum_dl"))
    }

  /** Compact the levels into one once more than `maxLevels` are live
    * ([[graft.model.LevelStore.maintain]]); returns whether it ran. A
    * level adds at most one file per bucket, so a bucket's live files
    * never outnumber the live levels.
    */
  def maintain(spark: SparkSession, dir: String, maxLevels: Int = 16): Boolean =
    levels.maintain(spark, dir, maxLevels)

  /** A query term's BM25 inputs beside its postings: document frequency,
    * the corpus constants and the ids of the batch queries that hold it.
    */
  private case class TermStats(df: Long, n_docs: Long, avgdl: Double, qids: Seq[Int])

  /** The committed postings of `queries`' terms — only their buckets'
    * partitions are read, gated to the committed levels (both filters
    * are partition pruning) — each row with its term's [[TermStats]] in
    * column `ts`.
    *
    * df comes from the same pruned scan in ONE job: each task counts its
    * rows per term and the driver sums the counts (|terms| numbers per
    * task), so no task holds a term's whole postings list and no df
    * aggregate is shuffled and broadcast back. The stats then ride the
    * rows as a map literal looked up by term. A map is not a primitive,
    * so generated code references it instead of inlining its values:
    * one compiled class serves every fold's n_docs and avgdl, where
    * primitive literals would compile new classes after each append.
    */
  private def termPostings(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    val terms = queries.flatMap(_._2).distinct
    val (stats, postings) = levels.read(spark, dir)
    // the terms' buckets via the same expression classes the build used
    // ([[termBuckets]]) — same hashing, no per-read probe job
    val buckets = termBuckets(terms, stats.getAs[Int]("n_buckets").toLong)
    val tfq = postings.where(col("bucket").isin(buckets: _*) && col("t").isin(terms: _*))
    val df = tfq.select("t").as[String].mapPartitions { ts =>
      val n = scala.collection.mutable.HashMap.empty[String, Long]
      ts.foreach(t => n(t) = n.getOrElse(t, 0L) + 1L)
      n.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)
    val byTerm = terms.map(t => t -> TermStats(df.getOrElse(t, 0L),
      stats.getAs[Long]("n_docs"), stats.getAs[Double]("avgdl"),
      queries.collect { case (qid, ts) if ts.contains(t) => qid })).toMap
    tfq.withColumn("ts", element_at(typedLit(byTerm), col("t")))
  }

  /** One posting's BM25 (k1=1.2, b=0.75) contribution from its term's
    * stats column `ts`.
    */
  private val contrib =
    log((col("ts.n_docs") - col("ts.df") + lit(0.5)) / (col("ts.df") + lit(0.5)) + lit(1)) *
      col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("ts.avgdl")))

  /** BM25 (k1=1.2, b=0.75) scores of the indexed corpus against
    * `qTerms`: (doc_id, bm25 rounded to 4) — the [[TextOps.bm25Scores]]
    * contract served from the index. Reads only the query terms' bucket
    * partitions, gated to the committed `seq <= max_seq` levels (both
    * filters are partition pruning — uncommitted appends cost nothing
    * and are invisible).
    */
  def bm25Scores(spark: SparkSession, dir: String,
      qTerms: Seq[String]): DataFrame = {
    require(qTerms.nonEmpty, "need at least one query term")
    termPostings(spark, dir, Seq(0 -> qTerms))
      .groupBy("doc_id").agg(round(sum(contrib), 4).as("bm25"))
  }

  /** Indexed BM25 top-k: (rank, doc_id, bm25) in rank order —
    * byte-identical to the direct [[TextOps.bm25Scores]] →
    * [[TextOps.bm25Rank]] path. Four jobs: the df count, the per-doc
    * shuffle, the top-k shuffle and the result.
    */
  def bm25TopK(spark: SparkSession, dir: String, qTerms: Seq[String],
      k: Int = 10): DataFrame =
    TextOps.bm25Rank(bm25Scores(spark, dir, qTerms), k)

  /** BM25 top-k for a BATCH of queries in ONE partition-pruned scan —
    * the production serving shape (a search tier evaluates a request
    * batch, not one query at a time): the postings read covers the
    * UNION of all queries' terms' buckets once, each posting row fans
    * out to the queries sharing its term, document frequency is
    * computed once per term (query-independent), and per-query top-k
    * reduces through the map-side TopKAgg heap keyed by qid — ≤ k rows
    * per query per task reach the shuffle, never a per-query corpus
    * pass.
    *
    * Output (qid, rank, doc_id, bm25) in (qid, rank) order, sorted
    * locally in one partition from the heaps' ranked output (≤ queries·k
    * rows, no range-partitioned sort); ranks on the ROUNDED score with
    * doc_id tie-break — each query's block is byte-identical to running
    * [[bm25TopK]] with its terms alone (LexIndexSpec pins it), so
    * batching is pure amortization: B queries cost one pruned scan of
    * ≤ Σ|terms| buckets instead of B scans.
    */
  def bm25TopKBatch(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])], k: Int = 10): DataFrame = {
    import spark.implicits._
    bm25ScoresBatch(spark, dir, queries)
      .as[(Int, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, v) => (id, v) }
      .agg(graft.functions.TopKAgg.TopK(k).toColumn.name("top"))
      .select(col("key").as("qid"), posexplode(col("top.items")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("e.id").as("doc_id"),
        col("e.value").as("bm25"))
      .coalesce(1)
      .sortWithinPartitions("qid", "rank")
  }

  /** The scores-level batch serving relation [[bm25TopKBatch]] ranks:
    * (qid, doc_id, bm25 rounded to 4) for every indexed doc matching any
    * of the query's terms — one partition-pruned postings scan for the
    * UNION of all queries' terms' buckets, df once per term, per-posting
    * fan-out to the queries holding its term. The hybrid batch serving
    * tier consumes this directly (it fuses DEPTH-ranked branch lists,
    * not top-k blocks).
    */
  def bm25ScoresBatch(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query, each with at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "query qids must be unique — duplicates would silently merge two " +
        "queries' term sets into one garbage score block")
    termPostings(spark, dir, queries)
      .withColumn("qid", explode(col("ts.qids"))) // the queries wanting this term
      .groupBy("qid", "doc_id").agg(round(sum(contrib), 4).as("bm25"))
  }
}
