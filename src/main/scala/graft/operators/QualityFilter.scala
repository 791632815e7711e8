package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.noOracle
import graft.functions.TextFunctions.tokens
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned quality filtering: a hashed-bag-of-words logistic classifier
  * trained from weak-supervision labels, scored corpus-wide with a
  * zero-shuffle column-expression pass (SURVEY.md §2.9 quality tier).
  *
  * This is the modern pretraining-corpus filter shape (CCNet's
  * wiki-vs-crawl fasttext model and its descendants): the heuristic
  * signals (`text_quality_score`) label a seed set, a linear model
  * generalizes them to token-level evidence, and the model — a few KB of
  * weights — scores every document. The reference has no learned tier
  * (its quality notion is the bounce-rate view); this extends the corpus
  * operators the way §2.9 extends the rest of the engine.
  *
  * Scale design, in order of what matters at 100 TB:
  *   - TRAINING touches only a seeded, bounded sample (`maxTrainRows`,
  *     same contract as the IVF quantizer's trainer): feature assembly
  *     boxes through MLlib vectors on that sample alone, never the
  *     corpus.
  *   - INFERENCE is one row-local map pass: the native
  *     `hashed_bow_logit` expression carries the weight array and scores
  *     each doc in one codegen'd call (no join, no shuffle). No MLlib
  *     types, no UDF, no state: scoring 100 TB runs at source
  *     parallelism and pipelines into whatever filter consumes the score
  *     (the same fusion PlanSpec pins for the pretraining pipelines'
  *     heuristic funnel), on batch and streaming relations alike.
  *   - The FEATURE HASH is Spark's Murmur3 `hash()` — identical at train
  *     and serve time by construction, so there is no vocabulary file to
  *     version or ship, only the weight array.
  */
object QualityFilter {

  /** Hashed-feature model: `weights(b)` is the coefficient of token
    * bucket `b`, `dim` the hash-space size (collisions are part of the
    * model, exactly as in any hashing-trick classifier).
    */
  final case class QualityModel(weights: Array[Double], intercept: Double, dim: Int)

  /** Murmur3 bucket of one token (valid for both train and serve). */
  def bucket(tok: Column, dim: Int): Column = pmod(hash(tok), lit(dim))

  /** Train a logistic model on a bounded seeded sample of `docs`.
    *
    * @param docs     relation with `doc_id`, `text`
    * @param label    0/1 teacher column computable from the row (weak
    *                 supervision — e.g. a heuristic-signal threshold or
    *                 membership in a curated corpus)
    * @param dim      hash-feature space (`graft.quality.dim` at the
    *                 query layer); 4096 keeps the broadcast at 32 KB
    * @param maxTrainRows sample bound — the only rows that ever box
    *                 through MLlib vectors
    */
  def trainQualityModel(docs: DataFrame, label: Column, dim: Int = 4096,
      maxTrainRows: Long = 100000L, seed: Long = 42L): QualityModel = {
    require(dim > 0, s"dim must be positive, got $dim")
    val spark = docs.sparkSession
    import spark.implicits._

    val base = docs.select(col("doc_id"), col("text"), label.cast("double").as("y"))
    val n = base.count()
    val sampled =
      if (n <= maxTrainRows) base
      else base.sample(withReplacement = false, maxTrainRows.toDouble / n, seed)

    // per-doc hashed token counts -> sparse vectors (sample-bounded)
    val feats = sampled
      .select(col("doc_id"), col("y"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), col("y"), bucket(col("t"), dim).as("b"))
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).cast("double").as("c"))
      .groupBy("doc_id", "y")
      .agg(collect_list(struct(col("b"), col("c"))).as("bc"))
      .select(col("y").as("label"), col("bc"))
      .as[(Double, Seq[(Int, Double)])]
      .map { case (y, bc) =>
        val sorted = bc.sortBy(_._1)
        (y, Vectors.sparse(dim, sorted.map(_._1).toArray, sorted.map(_._2).toArray))
      }
      .toDF("label", "features")

    val model = new LogisticRegression()
      .setMaxIter(100).setRegParam(1e-3).setStandardization(false)
      .fit(feats)
    QualityModel(model.coefficients.toArray, model.intercept, dim)
  }

  /** Score every doc under the model: `quality_score` = P(label=1),
    * `quality_pred` the 0.5-threshold decision, in one compiled pass per
    * doc via the native `hashed_bow_logit` expression (TextNative) —
    * tokenize + Murmur3 bucket + weight sum + sigmoid in a single
    * codegen'd call, the weight array riding the expression as a
    * reference object. Same buckets as training (`pmod(hash(t), dim)`
    * parity) and the same left-to-right fold order as the interpreted
    * `aggregate(transform(...))` form QualityFilterSpec pins it equal
    * to. Null/absent text scores at the intercept alone. Works on batch
    * AND streaming relations (stateless, no join).
    */
  def scoreQualityNative(docs: DataFrame, m: QualityModel): DataFrame = {
    require(m.weights.length == m.dim, s"weights length ${m.weights.length} != dim ${m.dim}")
    val score = org.apache.spark.sql.graft.TextNative.hashedBowLogit(
      col("text"), m.weights, m.intercept)
    docs
      .withColumn("quality_score",
        coalesce(score, lit(1.0 / (1.0 + math.exp(-m.intercept)))))
      .withColumn("quality_pred", (col("quality_score") >= 0.5).cast("int"))
  }

  /** The weak-supervision teacher the declared query trains from: the
    * engine's own heuristic stop-ratio signal (text_quality_score's
    * stopword list), thresholded. In production the teacher is usually
    * corpus membership (curated positives vs crawl negatives); the
    * operator only requires SOME computable 0/1 column.
    */
  def stopRatioTeacher(threshold: Double): Column = {
    val sr = graft.functions.TextFunctions.stopwordCount(col("text")) /
      size(tokens(col("text"))).cast("double")
    (sr >= threshold).cast("int")
  }

  /** The DECLARED model recipe, shared verbatim by the batch query and
    * the streaming serving split (stream_quality_filter): md5-bucket
    * train split (< 80), stop-ratio teacher at 0.06, conf-sized hashed
    * BoW. One definition — QualityFilterSpec pins streamed ≡ batch
    * scores, which only holds if both train on the identical recipe.
    */
  def trainDeclaredModel(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): QualityModel = {
    val dim = graft.GraftConf.QualityDim(s).toInt
    val split = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    trainQualityModel(docs.where(split < 80), stopRatioTeacher(0.06), dim)
  }

  val defs: Seq[QueryDef] = Seq(

    // Train on the md5-bucket train split (the split_train_eval
    // convention), score the whole corpus. No SQL oracle — the LBFGS fit
    // is not expressible in DuckDB; QualityFilterSpec proves the
    // learning (planted separable corpus, held-out accuracy) and the
    // scoring arithmetic (all-ones weights => score == sigmoid(b + n)).
    noOracle("text_quality_classifier") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val m = trainDeclaredModel(s, docs)
      scoreQualityNative(docs, m)
        .select(col("doc_id"), col("quality_pred"),
          round(col("quality_score"), 2).as("quality_score"))
        .orderBy("doc_id")
    }
  )
}
