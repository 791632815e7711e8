package graft

import graft.operators.{GraphOps, Sessionize}
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY.md §5.3) against independent
  * in-memory reference implementations, over seeded random cases.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Reference union-find with min-label canonicalization. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("fdiv is exact floor division on longs, including beyond double's 2^53 range") {
    import graft.functions.TimeFunctions.fdiv
    val rnd = new scala.util.Random(7)
    // epoch-ns magnitudes (~1.7e18) where floor(x/1e9) through a double
    // intermediate rounds wrong for some values, plus negatives and
    // boundary multiples
    val cases = Seq(0L, -1L, 999999999L, 1000000000L, -1000000001L,
      Long.MaxValue, Long.MaxValue - 1, Long.MinValue, Long.MinValue + 1,
      (1L << 53) + 1) ++
      Seq.fill(200)(rnd.nextLong() % (2L * 1000 * 1000 * 1000 * 1000 * 1000 * 1000 / 2))
    val got = cases.toDF("ts")
      .select(fdiv(col("ts"), 1000000000L)).as[Long].collect()
    cases.zip(got).foreach { case (ts, g) =>
      assert(g == Math.floorDiv(ts, 1000000000L), s"ts=$ts")
    }
  }

  test("connected components match union-find on random graphs, any edge order") {
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = List.fill(8 + rnd.nextInt(16))(
        (rnd.nextInt(19).toLong, rnd.nextInt(19).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(edges)
      val got = GraphOps.connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed edges=$edges")
      val got2 = GraphOps.connectedComponents(edges.reverse.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == expected, s"seed=$seed (reversed)")
    }
  }

  test("incremental CC matches union-find over random edge splits") {
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val edges = List.fill(10 + rnd.nextInt(20))(
        (rnd.nextInt(23).toLong, rnd.nextInt(23).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(edges)
      // random old/new split, including possibly-empty halves
      val (oldE, newE) = edges.partition(_ => rnd.nextBoolean())
      val labels = GraphOps.connectedComponents(oldE.toDF("src", "dst"))
      val got = GraphOps.connectedComponentsIncremental(labels, newE.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed old=$oldE new=$newE")
    }
  }

  test("snapshotDiff roundtrip and minimality hold on random snapshot pairs") {
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // old and new snapshots over overlapping key ranges with random
      // payloads (nullable string + double) — some keys dropped, some
      // added, some changed, some identical
      def snap(keys: Seq[Long]): Seq[(Long, String, Double)] = keys.map { k =>
        (k, if (rnd.nextBoolean()) s"v${rnd.nextInt(3)}" else null,
          rnd.nextInt(5).toDouble)
      }
      val oldKeys = (0L to 30L).filter(_ => rnd.nextBoolean())
      val newKeys = (0L to 30L).filter(_ => rnd.nextBoolean())
      val old = snap(oldKeys).toDF("k", "s", "v")
      val neu = snap(newKeys).toDF("k", "s", "v")
      val diff = graft.operators.IngestOps.snapshotDiff(old, neu, "k")
      val reapplied = old
        .join(diff.select("k"), Seq("k"), "left_anti")
        .unionAll(diff.where(col("op") =!= "D").drop("op"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val expected = neu.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(reapplied == expected, s"seed=$seed")
      // minimality: identical rows emit nothing
      val oldMap = old.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      val neuMap = neu.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      val unchanged = oldMap.keySet.intersect(neuMap.keySet)
        .filter(k => oldMap(k) == neuMap(k))
      val emitted = diff.collect().map(r => r.getLong(0)).toSet
      assert(unchanged.intersect(emitted).isEmpty,
        s"seed=$seed: unchanged keys ${unchanged.intersect(emitted)} emitted")
    }
  }

  /** Reference sessionizer: sorted timestamps, split on gap > 900. */
  private def refSessions(ts: Seq[Long]): Seq[Int] = {
    val sorted = ts.sorted
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    var n = 0
    var last = Long.MinValue
    sorted.foreach { t =>
      if (n == 0 || t - last <= 900) n += 1
      else { sizes += n; n = 1 }
      last = t
    }
    sizes += n
    sizes.toSeq
  }

  test("sessionize matches the reference gap-splitter on random timestamps") {
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val ts = List.fill(1 + rnd.nextInt(30))(rnd.nextLong(20000L))
      val df = ts.zipWithIndex.map { case (t, i) => ("d", 1L, t, i.toLong) }
        .toDF("domain", "user_id", "ts", "event_id")
      val got = Sessionize.sessions(df, Seq("domain", "user_id"), col("ts"), col("event_id"))
        .select("n_pageviews").as[Long].collect().map(_.toInt).sorted.toSeq
      assert(got == refSessions(ts).sorted, s"seed=$seed ts=$ts")
    }
  }

  test("distinct is idempotent and dedups exactly (multiset -> set)") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(200 + seed)
      val xs = List.fill(1 + rnd.nextInt(50))(rnd.nextInt(20))
      val once = xs.toDF("x").distinct()
      assert(once.count() == xs.distinct.size.toLong)
      assert(once.distinct().count() == xs.distinct.size.toLong)
    }
  }

  test("hll sketch estimates are partition-layout independent") {
    val ev = Tables.events(spark, sf0001)
    def est(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", lit(14))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est(ev) == est(ev))
    assert(est(ev.repartition(3)) == est(ev.repartition(11)))
  }

  test("nearest-centroid selections never throw: element 0 of nearestCentroids is nearestCentroid") {
    // a NaN or ±Inf component makes every distance (and every multi-probe
    // margin) NaN or Inf, so no candidate compares below the selection's
    // starting bound; ragged and empty rows cover the common-prefix rule
    import org.apache.spark.sql.graft.SrpNative
    val rnd = new scala.util.Random(17)
    val dims = 4
    val centroids = Array.fill(3)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val special = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
    def component() =
      if (rnd.nextInt(4) == 0) special(rnd.nextInt(3)) else rnd.nextGaussian().toFloat
    val rows = Seq(Array.empty[Float], Array(Float.NaN), Array.fill(dims)(Float.PositiveInfinity),
        Array.fill(dims)(Float.NegativeInfinity), Array.fill(dims)(1.0f)) ++
      Seq.fill(200)(Array.fill(rnd.nextInt(dims + 3))(component()))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    (1 to 3).foreach { n =>
      df.select(col("id"), SrpNative.nearestCentroid(col("v"), centroids),
          SrpNative.nearestCentroids(col("v"), centroids, n),
          SrpNative.srpMultiProbeCodes(col("v"), 2, 3, dims, n))
        .collect().foreach { r =>
          val row = rows(r.getLong(0).toInt).mkString("[", ",", "]")
          val many = r.getSeq[Int](2)
          assert(many.head == r.getInt(1), s"n=$n row=$row: $many vs ${r.getInt(1)}")
          assert(many.distinct.size == n, s"n=$n row=$row: $many")
          assert(r.getSeq[Long](3).size == 2 * (1 + n), s"n=$n row=$row")
        }
    }
  }
}
