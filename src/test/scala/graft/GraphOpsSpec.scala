package graft

import graft.operators.GraphOps
import org.apache.spark.sql.DataFrame

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bfsDepths: exact hop distances, unreachable nodes absent, direction-blind") {
    // path 1-2-3-4, a shortcut 1-3 (so 4 is at depth 2, not 3), an edge
    // stored "backwards" (5 -> 3: BFS must traverse it toward 5), and a
    // disconnected pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (5L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val got = GraphOps.bfsDepths(edges, source = 1L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2),
      s"got $got")
  }

  test("pageRank matches a sequential power-iteration reference (dangling mass leaks)") {
    // two hubs, a chain, and a dangling sink
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (2L, 4L), (5L, 1L))
      .toDF("src", "dst")
    val got = GraphOps.pageRank(edges, iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 4L), 3L -> Seq(4L), 5L -> Seq(1L))
    var pr = nodes.map(_ -> 1.0 / 5).toMap
    (1 to 3).foreach { _ =>
      pr = nodes.map { v =>
        val in = out.collect { case (u, ds) if ds.contains(v) => pr(u) / ds.size }
        v -> (0.15 / 5 + 0.85 * in.sum)
      }.toMap
    }
    got.foreach { case (n, p) =>
      assert(math.abs(p - pr(n)) < 1e-12, s"node $n: got $p want ${pr(n)}")
    }
    // node 4 is dangling: its mass leaves the system, total < 1
    val total = got.map(_._2).sum
    assert(total < 1.0 && total > 0.5, s"total rank $total")
  }

  /** CC of `edges` on the route the default threshold picks, and on the
    * distributed loop (forced by `graft.cc.localMaxEdges = -1`; -1, not 0:
    * zero-edge shapes would stay local at 0).
    */
  private def bothRoutes(edges: DataFrame): (Set[(Any, Any)], Set[(Any, Any)]) = {
    def run(): Set[(Any, Any)] = GraphOps.connectedComponents(edges)
      .collect().map(r => (r.get(0), r.get(1))).toSet
    val local = run()
    spark.conf.set(GraftConf.CcLocalMaxEdges.name, "-1")
    val dist = try run() finally spark.conf.unset(GraftConf.CcLocalMaxEdges.name)
    (local, dist)
  }

  test("driver-local CC route equals the distributed loop on every graph shape") {
    // random graphs + the adversarial shapes: long chain (max diameter),
    // star (max degree), duplicate/self-loop edges, empty graph
    val rnd = new scala.util.Random(7)
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 200L).map(i => (i, i + 1)), // chain
      (2L to 120L).map(i => (1L, i)), // star
      Seq.tabulate(300)(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)), // random w/ self-loops
      Seq((5L, 5L)), // only self-loops -> empty labeling
      Seq.empty[(Long, Long)] // empty
    )
    shapes.zipWithIndex.foreach { case (es, i) =>
      val (local, dist) = bothRoutes(es.toDF("src", "dst"))
      assert(local == dist, s"shape $i: local route diverged from the loop")
    }
  }

  /** personKey-shaped ids: `1:<cookie>` / `2:<zero-padded user id>`. */
  private def cookie(i: Int): String = s"1:ck${i * 7919 % 1000}"
  private def user(i: Int): String = f"2:$i%019d"
  private def person(i: Int): String = if (i % 3 == 0) cookie(i) else user(i)

  test("driver-local CC route equals the distributed loop on string-keyed graphs") {
    val rnd = new scala.util.Random(11)
    // U+FF21 sorts above U+1F600 in UTF-16 units (0xFF21 > 0xD83D) but
    // below it in UTF-8 bytes (EF < F0), the order Spark's min uses
    val bmp = "1:\uFF21"; val astral = "1:\uD83D\uDE00"
    val shapes: Seq[Seq[(String, String)]] = Seq(
      // chain: with a cookie key every third hop the loop's pointer jumps
      // stall at those local minima and its rounds grow with the chain's
      // length (60 hops do not converge within graft.cc.maxIter = 25)
      (1 to 24).map(i => (person(i), person(i + 1))),
      (2 to 120).map(i => (user(1), person(i))), // star
      Seq.tabulate(300)(_ => (person(rnd.nextInt(80)), person(rnd.nextInt(80)))), // random w/ self-loops
      Seq((astral, user(3)), (user(3), bmp), (cookie(4), user(5))), // BMP vs supplementary
      Seq((user(5), user(5))), // only self-loops -> empty labeling
      Seq.empty[(String, String)] // empty
    )
    val locals = shapes.zipWithIndex.map { case (es, i) =>
      val (local, dist) = bothRoutes(es.toDF("src", "dst"))
      assert(local == dist, s"shape $i: local route diverged from the loop")
      local
    }
    val mixed = locals(3).toMap
    assert(mixed(astral) == bmp && mixed(user(3)) == bmp && mixed(user(5)) == cookie(4),
      s"component minimum must follow UTF-8 byte order: $mixed")
  }

  test("a string graph below the threshold takes the local route: at most 5 jobs") {
    val edges = (1 to 24).map(i => (person(i), person(i + 1))).toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val n =
      try {
        GraphOps.connectedComponents(edges).collect()
        Thread.sleep(500) // listener bus is async; jobs run synchronously
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    // the distributed loop runs dozens of jobs on this chain (57 on
    // Spark 4.1 local[4]), so a silent fall-back to it fails here
    assert(n <= 5, s"connectedComponents + collect ran $n jobs")
  }

  test("incremental CC equals full recompute when new edges merge old components") {
    import spark.implicits._
    // old graph: three components {1,2,3}, {10,11}, {20,21,22}
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("src", "dst")
    // new batch: merges {10,11} into {1,2,3}, adds a brand-new component
    // {30,31}, and attaches a brand-new node 23 to {20,21,22}
    val newEdges = Seq((3L, 10L), (30L, 31L), (22L, 23L)).toDF("src", "dst")
    val labels = GraphOps.connectedComponents(oldEdges)
    val inc = GraphOps.connectedComponentsIncremental(labels, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = GraphOps.connectedComponents(oldEdges.unionAll(newEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(inc == full)
    // the merged component relabeled to the global min across BOTH halves
    assert(inc(11L) == 1L && inc(23L) == 20L && inc(31L) == 30L)
  }

  test("incremental CC equals full recompute on a string-keyed graph") {
    // old: {c1, u1, u2}, {u10, u11}, {u20, u21}; new: u2-u10 merges the
    // first two, u21-u22 attaches a new node, c30-u31 is a new component
    val oldEdges = Seq((cookie(1), user(1)), (user(1), user(2)),
      (user(10), user(11)), (user(20), user(21))).toDF("src", "dst")
    val newEdges = Seq((user(2), user(10)), (user(21), user(22)),
      (cookie(30), user(31))).toDF("src", "dst")
    val labels = GraphOps.connectedComponents(oldEdges)
    val inc = GraphOps.connectedComponentsIncremental(labels, newEdges)
    assert(inc.schema == labels.schema)
    val got = inc.collect().map(r => (r.getString(0), r.getString(1))).toMap
    val full = GraphOps.connectedComponents(oldEdges.unionAll(newEdges))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == full)
    assert(got(user(11)) == cookie(1) && got(user(22)) == user(20) &&
      got(user(31)) == cookie(30), s"got $got")
  }

  test("incremental CC with an empty new batch reproduces the old labeling") {
    import spark.implicits._
    val oldEdges = Seq((5L, 6L), (6L, 7L)).toDF("src", "dst")
    val labels = GraphOps.connectedComponents(oldEdges)
    val inc = GraphOps.connectedComponentsIncremental(
      labels, Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == expected)
  }

  test("triangle count: known graphs, direction/duplicate/self-loop invariance") {
    import spark.implicits._
    def n(df: org.apache.spark.sql.DataFrame): Long =
      GraphOps.triangleCount(df).head().getLong(0)
    // K4 has C(4,3) = 4 triangles
    val k4 = (for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j)).toDF("src", "dst")
    assert(n(k4) == 4L)
    // a star (hub 0 to 1..5) has none; closing one spoke pair adds one
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(n(star) == 0L)
    assert(n(star.unionAll(Seq((1L, 2L)).toDF("src", "dst"))) == 1L)
    // reversed duplicates, repeated edges, and self-loops change nothing
    val noisy = k4.unionAll(k4.select($"dst".as("src"), $"src".as("dst")))
      .unionAll(Seq((1L, 1L), (2L, 3L)).toDF("src", "dst"))
    assert(n(noisy) == 4L)
  }
}
