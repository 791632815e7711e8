package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, HllSketchEstimate, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HllSketchAgg}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Opt-in COUNT(DISTINCT x) → HLL-sketch-estimate rewrite (the classic
  * interactive-BI approximation toggle): with session conf
  * `graft.sql.approxDistinct=true`, exact distinct aggregation — which
  * plans as an Expand + two exchanges over the distinct keys — becomes a
  * single-pass mergeable sketch (±~2% at lgK 14, the engine's HLL
  * default). Opt-IN only: the conf defaults off and the driver's
  * correctness gate runs exact; injected as a resolution rule so the
  * rewrite happens before distinct-aggregate planning.
  */
case class ApproxDistinctRewrite(lgK: Int = 14) extends Rule[LogicalPlan] {
  private def enabled: Boolean = {
    val key = _root_.graft.GraftConf.SqlApproxDistinct
    SQLConf.get.getConfString(key.name, key.default) == "true"
  }

  // HllSketchAgg only accepts these input types (its checkInputDataTypes);
  // rewriting a count(DISTINCT <double>) would turn a valid exact query
  // into an AnalysisException, so unsupported types stay exact.
  private def sketchable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.resolveOperatorsUp {
      case a: Aggregate => a.transformExpressions {
        case ae @ AggregateExpression(Count(Seq(child)), _, true, None, _)
            if child.resolved && sketchable(child.dataType) =>
          HllSketchEstimate(
            ae.copy(aggregateFunction = new HllSketchAgg(child, Literal(lgK)),
              isDistinct = false))
      }
    }
}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions into every session built with
  * `.config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")`
  * — the deployment-grade registration path (cluster-wide via conf, no
  * per-session register() call). The imperative GraftNative.register
  * remains for ad-hoc sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => ApproxDistinctRewrite())
    ext.injectFunction((
      FunctionIdentifier("fvdot"),
      info("fvdot", "fvdot(a, b) - dot product of two float arrays in double precision"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "fvdot takes (array<float>, array<float>)")
        FloatVecDot(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash64"),
      info("shingle_hash64",
        "shingle_hash64(text, n) - distinct word n-gram FNV-1a hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "shingle_hash64 takes (text, n)")
        ShingleHash64(children(0), intLiteral(children(1), "shingle_hash64 n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(hashes, k) - k minhashes of a long-hash array"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_signature takes (hashes, k)")
        MinHashSignature(children(0), intLiteral(children(1), "minhash_signature k"))
      }))
  }

  private def intLiteral(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
