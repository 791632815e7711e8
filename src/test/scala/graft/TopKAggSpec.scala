package graft

import graft.functions.TopKAgg
import graft.functions.TopKAgg.{Buf, Entry, HeapBuf}

class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private val agg = TopKAgg.TopK(3)

  // HeapBuf equality is referential on its arrays — compare through
  // finish(), the output the query actually consumes
  private def items(b: HeapBuf): Seq[Entry] = agg.finish(b).items

  test("reduce keeps the buffer bounded at k and ordered (value desc, id asc)") {
    val rows = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (5L, 7.0), (6L, 9.0))
    val b = rows.foldLeft(agg.zero)(agg.reduce)
    assert(items(b) == Seq(Entry(9.0, 2L), Entry(9.0, 3L), Entry(9.0, 6L)))
    assert(b.size <= 3 && b.values.length == 3 && b.ids.length == 3)
  }

  test("merge is order-insensitive: any split of the input gives the same top-k") {
    val rows = (1L to 40L).map(i => (i, (i * 7 % 13).toDouble))
    val whole = items(rows.foldLeft(agg.zero)(agg.reduce))
    for (cut <- Seq(1, 13, 20, 39)) {
      val (a, b) = rows.splitAt(cut)
      val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
      assert(items(merged) == whole, s"split at $cut")
    }
    val w2 = rows.foldLeft(agg.zero)(agg.reduce)
    assert(items(agg.merge(w2, agg.zero)) == whole)
  }

  test("NaN values keep a total order: results are split-independent and nothing is dropped wrongly") {
    // Double.compare order: NaN sorts as the LARGEST value (matching
    // Spark SQL's ORDER BY ... DESC NaN placement); the bounded-buffer
    // gate must not become undefined when the floor is NaN
    val rows = Seq((1L, Double.NaN), (2L, Double.NaN), (3L, 100.0), (4L, 50.0))
    val agg2 = TopKAgg.TopK(2)
    // NaN != NaN under primitive ==, so compare (id, bit pattern)
    def canon(b: Buf) = b.items.map(e => (e.id, java.lang.Double.doubleToLongBits(e.value)))
    val whole = rows.foldLeft(agg2.zero)(agg2.reduce)
    assert(agg2.finish(whole).items.map(_.id) == Seq(1L, 2L))
    for (cut <- 1 until rows.size) {
      val (a, b) = rows.splitAt(cut)
      val merged = agg2.merge(a.foldLeft(agg2.zero)(agg2.reduce), b.foldLeft(agg2.zero)(agg2.reduce))
      assert(canon(agg2.finish(merged)) == canon(agg2.finish(whole)), s"split at $cut")
    }
    // with k=3 the real value must survive below the NaNs
    val whole3 = rows.foldLeft(agg.zero)(agg.reduce)
    assert(items(whole3).map(_.id) == Seq(1L, 2L, 3L))
  }

  test("property: random inputs, random splits, random merge order == sorted-take-k reference") {
    val rnd = new scala.util.Random(42)
    def reference(rows: Seq[(Long, Double)], k: Int): Seq[Entry] =
      rows.map { case (id, v) => Entry(v, id) }
        .sortWith { (a, b) =>
          val c = java.lang.Double.compare(b.value, a.value)
          c < 0 || (c == 0 && a.id < b.id)
        }.take(k)
    def canon(es: Seq[Entry]) = es.map(e => (e.id, java.lang.Double.doubleToLongBits(e.value)))
    for (trial <- 1 to 200) {
      val k = 1 + rnd.nextInt(6)
      val a = TopKAgg.TopK(k)
      val n = rnd.nextInt(40)
      // duplicate values and ids on purpose; occasional NaN/±0.0
      val rows = Seq.fill(n)((rnd.nextInt(10).toLong, rnd.nextInt(5) match {
        case 0 => Double.NaN
        case 1 => if (rnd.nextBoolean()) 0.0 else -0.0
        case _ => (rnd.nextInt(9) - 4).toDouble
      }))
      // random split into chunks, fold each, merge in random order
      val chunks = rows.grouped(1 + rnd.nextInt(rows.size + 1)).toSeq
      val bufs = rnd.shuffle(chunks.map(_.foldLeft(a.zero)(a.reduce)))
      val merged = bufs.foldLeft(a.zero)(a.merge)
      assert(canon(a.finish(merged).items) == canon(reference(rows, k)),
        s"trial $trial k=$k rows=$rows")
      // TopKVec: the same entries, each still holding the vector its row
      // carried, plus the group's probe vector
      val av = TopKAgg.TopKVec(k)
      val probe = Array(42f)
      val vbufs = rnd.shuffle(chunks.map(_.foldLeft(av.zero) { case (b, (id, v)) =>
        av.reduce(b, (id, v, Array(id.toFloat, v.toFloat), probe)) }))
      val out = av.finish(vbufs.foldLeft(av.zero)(av.merge))
      assert(canon(out.items.map(e => Entry(e.value, e.id))) == canon(reference(rows, k)))
      assert(out.items.forall(e => e.vec(0) == e.id.toFloat &&
        java.lang.Float.floatToIntBits(e.vec(1)) == java.lang.Float.floatToIntBits(e.value.toFloat)))
      assert(rows.isEmpty || out.probe.sameElements(probe))
    }
  }

  test("the buffer survives an encoder round trip mid-aggregation (sort-based fallback path)") {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      agg.bufferEncoder.asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[HeapBuf]])
    val ser = enc.createSerializer()
    val de = enc.resolveAndBind().createDeserializer()
    val half = Seq((1L, 5.0), (2L, 9.0)).foldLeft(agg.zero)(agg.reduce)
    val roundTripped = de(ser(half).copy())
    val resumed = Seq((3L, 7.0), (4L, 1.0)).foldLeft(roundTripped)(agg.reduce)
    assert(items(resumed) == Seq(Entry(9.0, 2L), Entry(7.0, 3L), Entry(5.0, 1L)))
  }

  test("agg_topk_heap equals the window form on the same table at any partitioning") {
    val heap = SparkEntry.queries("agg_topk_heap")(spark, sf0001).collect().toSeq
    val window = SparkEntry.queries("topk_per_group")(spark, sf0001).collect().toSeq
    assert(heap == window)
  }

  test("the typed aggregate combines map-side (partial agg before the exchange)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val df = SparkEntry.queries("agg_topk_heap")(spark, sf0001)
    df.collect()
    // AQE-aware walk (plain collect stops at the wrapper nodes)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }).flatMap(nodes)
    // two ObjectHashAggregate nodes (partial + final) = the buffer is
    // merged before the shuffle; a single node would mean all rows of a
    // key cross the wire
    val aggs = nodes(df.queryExecution.executedPlan).collect {
      case a: ObjectHashAggregateExec => a
    }
    assert(aggs.size >= 2, s"expected partial+final typed aggregation:\n" +
      df.queryExecution.executedPlan)
  }
}
