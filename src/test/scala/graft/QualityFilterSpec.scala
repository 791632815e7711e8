package graft

import graft.operators.QualityFilter
import graft.operators.QualityFilter.QualityModel
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Learned quality filter: the model must LEARN (held-out accuracy on a
  * planted separable corpus), the scoring arithmetic must be exact (an
  * all-ones weight vector reduces the score to sigmoid(b + n_tokens)),
  * the native scorer must equal the interpreted reference form, and the
  * scoring pass must stay shuffle-free (the 100 TB contract).
  */
class QualityFilterSpec extends SparkSpec {

  import spark.implicits._

  /** The interpreted reference scorer the native `hashed_bow_logit` form
    * must equal bit for bit: the weights as one array literal, the score
    * an `aggregate(transform(tokens, t -> w[h(t)]))` fold in the same
    * left-to-right order, null text scoring at the intercept alone.
    */
  private def scoreReference(docs: org.apache.spark.sql.DataFrame, m: QualityModel) = {
    val w = typedLit(m.weights.toSeq)
    val toks = coalesce(graft.functions.TextFunctions.tokens(col("text")),
      array().cast("array<string>"))
    val z = lit(m.intercept) + aggregate(
      transform(toks, t => element_at(w, (QualityFilter.bucket(t, m.dim) + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    docs
      .withColumn("quality_score", lit(1.0) / (lit(1.0) + exp(-z)))
      .withColumn("quality_pred", (col("quality_score") >= 0.5).cast("int"))
  }

  /** Planted corpus: "quality" docs are stopword-laced English-ish
    * sentences; "junk" docs are consonant gibberish. Disjoint content
    * vocabulary per doc id keeps the hashed features informative rather
    * than memorizable.
    */
  private def planted(n: Int) = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is")
    val rows = (0 until n).map { i =>
      val good = i % 2 == 0
      val text =
        if (good)
          (0 until 20).map(k => s"${stop(k % stop.size)} word${i}x$k").mkString(" ")
        else
          (0 until 20).map(k => s"zxq${i}v$k qwrtpz${(i * 7 + k) % 997}").mkString(" ")
      (i.toLong, text, if (good) 1 else 0)
    }
    rows.toDF("doc_id", "text", "y")
  }

  test("classifier generalizes: held-out accuracy >= 0.95 on planted corpus") {
    val docs = planted(240)
    val train = docs.where($"doc_id" % 4 < 2) // half train
    val eval = docs.where($"doc_id" % 4 >= 2) // disjoint held-out half
    val m = QualityFilter.trainQualityModel(train, col("y"), dim = 1024)
    val scored = QualityFilter.scoreQualityNative(eval, m)
    val acc = scored.select(
      avg(($"quality_pred" === $"y").cast("double"))).head().getDouble(0)
    assert(acc >= 0.95, s"held-out accuracy $acc < 0.95")
  }

  test("scoring arithmetic is exact: all-ones weights => sigmoid(b + n_tokens)") {
    val m = QualityModel(Array.fill(64)(1.0), intercept = -3.0, dim = 64)
    val docs = Seq(
      (1L, "one two three"), // 3 tokens -> z = 0
      (2L, "a b"), //            2 tokens -> z = -1
      (3L, null.asInstanceOf[String]) // null text -> intercept only
    ).toDF("doc_id", "text")
    val got = QualityFilter.scoreQualityNative(docs, m)
      .select($"doc_id", $"quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    assert(math.abs(got(1L) - sig(0.0)) < 1e-12)
    assert(math.abs(got(2L) - sig(-1.0)) < 1e-12)
    assert(math.abs(got(3L) - sig(-3.0)) < 1e-12)
  }

  test("native scorer: no join at all, expression present, shuffle-free") {
    val m = QualityModel(Array.fill(64)(0.5), intercept = 0.0, dim = 64)
    val docs = Tables.documents(spark, sf001)
    val df = QualityFilter.scoreQualityNative(docs, m)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeLike => s }.isEmpty, s"$plan")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("hashed_bow_logit"), p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("native scorer equals the interpreted reference; streamed equals batch") {
    val docs = Tables.documents(spark, sf001)
    val m = QualityFilter.trainQualityModel(
      docs, QualityFilter.stopRatioTeacher(0.06), dim = 256)
    // the native codegen scorer is bit-identical to the expression form
    // (same Murmur3 buckets, same left-to-right fold order)
    val viaRef = scoreReference(docs, m)
      .select($"doc_id", $"quality_score", $"quality_pred")
    val viaNative = QualityFilter.scoreQualityNative(docs, m)
      .select($"doc_id", $"quality_score", $"quality_pred")
    assert(viaNative.exceptAll(viaRef).isEmpty && viaRef.exceptAll(viaNative).isEmpty)
    // the streamed declared query lands the same rows as batch scoring
    // under the same (deterministically trained) model contract: compare
    // row COUNT and prediction histogram (weights differ run to run only
    // if training data differs — same split, same seed, same data)
    val streamed = SparkEntry.queries("stream_quality_filter")(spark, sf001)
    val split = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    val mq = QualityFilter.trainQualityModel(
      docs.where(split < 80), QualityFilter.stopRatioTeacher(0.06),
      spark.conf.get("graft.quality.dim", "4096").toInt)
    val batch = QualityFilter.scoreQualityNative(docs, mq)
      .select($"doc_id", $"quality_pred", round($"quality_score", 2).as("quality_score"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("declared query trains and scores the fixture corpus") {
    val out = SparkEntry.queries("text_quality_classifier")(spark, sf001)
    val n = out.count()
    assert(n == Tables.documents(spark, sf001).count())
    // the teacher signal is learnable here: predictions must not collapse
    // to a single class
    val classes = out.select(countDistinct($"quality_pred")).head().getLong(0)
    assert(classes == 2, "predictions collapsed to one class")
  }
}
