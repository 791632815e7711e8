package graft.operators

import graft.{GraftConf, QueryDef, Tables}
import graft.QueryDef.withOracle
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The user-id-normalization graph pipeline (SURVEY.md §2.2 edgify/
  * bidirectional edges, §2.6 connected components; reference
  * BatchWorkflow.java:561-605, 623-687).
  *
  * The equiv-edge fixture is synthesized deterministically from events
  * user ids (two modulus relations), standing in for the reference's
  * EquivEdge facts; node ids are longs, matching the PersonID total order
  * ("smallest id wins", schema/PersonID.java:322-326).
  */
object GraphOps {

  /** Driver-local labeling for the small-graph route: each edge's two
    * endpoint keys (`ends(2i)`, `ends(2i+1)`) are replaced by their index
    * in the sorted dictionary of distinct keys, and a min-root union-find
    * over an `Int` parent array joins them. Union always roots the
    * SMALLER index, so every find resolves to the component's smallest
    * key under the key `Ordering` — the fixed point the distributed
    * min-propagation loop converges to when that is the order Spark's
    * `min` uses.
    * Output: (node, component-min) for every endpoint, node-sorted.
    */
  private def localMinLabels[K: Ordering: scala.reflect.ClassTag](
      ends: Array[K]): Array[(K, K)] = {
    val keys = ends.distinct.sorted
    val index = keys.iterator.zipWithIndex.toMap
    val parent = Array.range(0, keys.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var i = 0
    while (i < ends.length) {
      val ra = find(index(ends(i))); val rb = find(index(ends(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    keys.indices.iterator.map(j => (keys(j), keys(find(j)))).toArray
  }

  /** Spark's `min` order on UTF8_BINARY strings: unsigned bytes of the
    * UTF-8 encoding (code-point order). Java's `String.compareTo` compares
    * UTF-16 units and puts supplementary-plane characters below
    * U+E000..U+FFFF, so it would pick a different component minimum.
    */
  private implicit val utf8Order: Ordering[UTF8String] =
    Ordering.fromLessThan[UTF8String](_.binaryCompare(_) < 0)

  /** Min-label-propagation connected components with pointer-jumping, the
    * Spark-idiomatic form of the reference's driver-side iteration
    * (BatchWorkflow.java:653-687): per round each node adopts the smallest
    * label among itself and its neighbors, then shortcuts through its
    * label's label (`label(v) ← label(label(v))`); terminate when no label
    * changes (the reference's "progress edges empty" probe becomes a count
    * on the changed set).
    *
    * Scale notes (100 TB): labels are shuffled on the node key each round;
    * `localCheckpoint` truncates lineage so the plan doesn't grow with
    * iterations; the convergence probe is an aggregate on the label table,
    * never a collect. Each round takes ONE pointer jump (label → label's
    * label). That shortens chains whose labels already point at a node
    * holding a smaller label, but it is not full pointer jumping: when
    * local minima sit along a path, each node's label points at a nearby
    * minimum whose own label improves by about one neighbour hop per
    * round, so worst-case rounds are O(diameter) — a 60-hop chain with a
    * local minimum every third hop does not converge within 25 rounds.
    * A cap guards against runaway iteration.
    *
    * Non-convergence within the cap THROWS (a silent partial labeling
    * would quietly merge/split identities downstream). The cap is
    * [[graft.GraftConf.CcMaxIter]] (25), a session conf so callers of
    * the fixed-signature query entry points — batch_workflow,
    * near_dedup_apply, pipeline_pretraining_corpus — can raise it
    * without a library edit.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val iterCap = GraftConf.CcMaxIter(spark).toInt
    // Bidirectional, self-loop-free edge set (BidirectionalEdge,
    // BatchWorkflow.java:570-581), deduplicated once up front.
    // Partition the edge set by `src` ONCE before checkpointing: every
    // iteration's label join probes on src, and localCheckpoint preserves
    // output partitioning, so the (node-count-sized) edge relation is
    // never re-shuffled inside the loop — only the label side moves.
    // (distinct hash-partitions by (src,dst), which the join can't reuse.)
    // Both directions come from ONE row-local explode, not a self-union:
    // the union form executed the caller's edge plan TWICE inside this
    // checkpoint's materialization, and CC inputs are routinely the
    // single most expensive relation in their query (r15 attribution:
    // pipeline_embedding_corpus's 200k point spent ~63 s producing dup
    // pairs and the union re-ran all of it — 127 s whole vs 78 s staged).
    // The deduped edge count rides the checkpoint materialization
    // (observe below the repartition so the checkpointed partitioning is
    // untouched) — it decides the SIZE ROUTE with zero extra jobs.
    val bidirObs = edges
      .select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .observe("cc_edges", count(lit(1)).as("n"))
      .repartition(col("src"))
    val bidir = bidirObs.localCheckpoint()

    // SIZE ROUTE (the stats-routing discipline of the dedup/span
    // families, applied to the iteration itself): below
    // GraftConf.CcLocalMaxEdges deduped bidirectional edges the component
    // labeling is DRIVER-SIZED work — a min-root union-find over the
    // already-materialized checkpoint blocks computes the identical
    // labeling (label = component-minimum id, the converged fixed point
    // of the min-propagation loop) in one collect job, where the
    // distributed loop pays ~5 AQE stage-jobs per iteration × O(log d)
    // iterations of pure fixed overhead (measured: 3.2 s for an
    // 840-edge graph at sf0.1). At 100 TB graphs exceed the threshold
    // and the loop below runs unchanged. Long and UTF8_BINARY string ids
    // take this route; any other key type keeps the loop. The threshold
    // bounds driver memory: a few hundred bytes per edge for the
    // collected rows, boxed keys and dictionary, plus, for string ids,
    // about 4 bytes per key character per edge (each endpoint held as a
    // String and a UTF8String), so the default 100k edges of personKeys
    // (21 characters for user ids) stay within tens of MB. Both routes
    // are proven output-identical (GraphOpsSpec route-equality pins +
    // every CC consumer's oracle).
    val localMax = GraftConf.CcLocalMaxEdges(spark).toLong
    val keyType = bidir.schema("src").dataType
    val edgeN = bidirObs.queryExecution.observedMetrics.get("cc_edges")
      .map(_.getAs[Long]("n"))
      .filter(_ != 0L) // zero/absent: confirm against the cached blocks
      .getOrElse(bidir.count())
    if ((keyType == LongType || keyType == StringType) && edgeN <= localMax) {
      val collected = bidir.collect()
      // an under-read metric must not defeat the driver-memory bound:
      // more edges than the threshold fall through to the loop
      if (collected.length <= localMax) {
        bidir.unpersist()
        val labeled: Array[Row] =
          if (keyType == LongType)
            localMinLabels(collected.flatMap(r => Array(r.getLong(0), r.getLong(1))))
              .map { case (n, l) => Row(n, l) }
          else
            localMinLabels(collected.flatMap(r => Array(
              UTF8String.fromString(r.getString(0)),
              UTF8String.fromString(r.getString(1)))))
              .map { case (n, l) => Row(n.toString, l.toString) }
        // schema mirrors the loop's output (nullable ids of the edge
        // type) so the two routes are indistinguishable downstream,
        // including in dumped parquet schemas
        val schema = StructType(Seq(StructField("node", keyType, nullable = true),
          StructField("label", keyType, nullable = true)))
        return spark.createDataFrame(java.util.Arrays.asList(labeled: _*), schema)
      }
    }

    // Seed labels with the 1-hop minimum (label₀ = min(node, neighbors)):
    // the groupBy rides bidir's src partitioning (no exchange) and saves
    // a full propagation round on shallow graphs — identity-seeded labels
    // would spend iteration 1 computing exactly this.
    var current = bidir.groupBy("src").agg(min("dst").as("mind"))
      .select(col("src").as("node"), least(col("src"), col("mind")).as("label"))
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (iter < iterCap && !converged) {
      val labels = current.select(col("node"), col("label"))
      val labelType = current.schema("label").dataType
      // Each node's candidate labels: its own + each neighbor's current.
      // The self branch carries the node's previous label through the
      // aggregation (`own`: exactly one self row per node, so max() just
      // forwards it) — the convergence probe below then needs no join
      // back against the previous labels, only a scan of the checkpoint.
      val candidate = bidir
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"),
          lit(null).cast(labelType).as("own"))
        .unionAll(labels.select(col("node"), col("label"),
          col("label").as("own")))
        .groupBy("node")
        .agg(min("label").as("label"), max("own").as("own"))
      // Pointer-jump: follow the label to its own (possibly smaller)
      // label. Labels are node ids within the same component, so the
      // shortcut never crosses components; values only decrease.
      val ptr = candidate
        .select(col("node").as("label"), col("label").as("plabel"))
      // Convergence probe rides the checkpoint materialization itself
      // (Dataset.observe → CollectMetrics): labels only ever decrease, so
      // `changed` ⟺ label < own, countable as the rows stream into the
      // checkpoint — one job per round where the old limit(1).count()
      // rescan paid a second. Metrics are read SYNCHRONOUSLY from the
      // executed plan (`queryExecution.observedMetrics`), not through
      // `Observation.get` — that API waits on the async listener bus,
      // and under a busy session the delivery latency per round cost
      // more than the rescan it replaced (measured on stream_cc's
      // five-fold CC loops).
      val observed = candidate
        .join(ptr, Seq("label"), "left_outer")
        .select(col("node"),
          coalesce(col("plabel"), col("label")).as("label"), col("own"))
        .observe("cc_probe", count(when(col("label") =!= col("own"), lit(1))).as("changed"))
      val next = observed.localCheckpoint()
      val changed = observed.queryExecution.observedMetrics.get("cc_probe")
        .map(_.getAs[Long]("changed"))
        // defensive in the DANGEROUS direction (r18 advice): a metric that
        // is present but was never updated (plan served without executing
        // the observe node) reads 0 and would falsely converge — so a
        // zero reading, like a missing one, is confirmed by the rescan
        // probe before convergence is declared. The rescan runs exactly
        // once per CC call (the final iteration); a positive metric is
        // trusted (a stale accumulator can only under-read).
        .filter(_ != 0L)
        .getOrElse(next.where(col("label") =!= col("own")).limit(1).count())
      current.unpersist()
      current = next
      converged = changed == 0L
      iter += 1
    }
    // the edge checkpoint is loop-internal — release its cached blocks
    // now rather than waiting for GC (a long session runs many CC graphs)
    bidir.unpersist()
    require(converged,
      s"connected components did not converge within $iterCap iterations — " +
        s"raise spark.conf ${GraftConf.CcMaxIter.name} (rounds can scale with " +
        "the graph diameter)")
    current.select(col("node"), col("label"))
  }

  /** Single-source BFS hop distances over the bidirectional edge set:
    * (node, depth) for every node reachable from `source` (the source at
    * depth 0) — the §2.6 reachability-with-distance complement to
    * [[connectedComponents]] (same-component membership without the
    * distance). Frontier expansion: the edge relation is src-partitioned
    * ONCE and checkpointed (the CC discipline — only frontier/visited
    * move per round); each round joins the frontier to edges, anti-joins
    * the visited set (both node-partitioned, checkpoint-preserved), and
    * stops when the frontier empties — O(eccentricity) rounds, per-round
    * work bounded by frontier×degree plus one component-sized anti-join
    * probe, never all-pairs.
    */
  def bfsDepths(edges: DataFrame, source: Long, maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    var visited = Seq((source, 0)).toDF("node", "depth")
      .repartition(col("node")).localCheckpoint()
    var frontier = visited
    var depth = 0
    var done = false
    while (!done && depth < maxIter) {
      // distinct hash-partitions the candidates by node, so the visited
      // anti-join reuses that partitioning against the node-partitioned
      // checkpoint
      // emptiness probe rides the checkpoint job (the CC loop's observe
      // trick, synchronous observedMetrics read — no listener-bus wait,
      // no second scan of the frontier)
      val observed = bidir
        .join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("depth", lit(depth + 1))
        .observe("bfs_probe", count(lit(1)).as("n"))
      val next = observed.localCheckpoint()
      val frontierN = observed.queryExecution.observedMetrics.get("bfs_probe")
        .map(_.getAs[Long]("n"))
        // a present-but-never-updated metric reads 0 and would falsely
        // TERMINATE the walk — confirm emptiness with the rescan (fires
        // once, on the final round); positive readings are trusted
        .filter(_ != 0L)
        .getOrElse(next.limit(1).count())
      if (frontierN == 0L) done = true
      else {
        val grown = visited.unionAll(next)
          .repartition(col("node")).localCheckpoint()
        visited.unpersist()
        if (frontier ne visited) frontier.unpersist()
        visited = grown
        frontier = next
        depth += 1
      }
    }
    bidir.unpersist()
    require(done,
      s"BFS frontier still non-empty after $maxIter rounds — raise maxIter " +
        "(rounds scale with the source's eccentricity)")
    visited
  }

  /** PersonId struct column -> one sortable string key preserving the
    * reference's union total order — tag first, then value; cookie tag 1 <
    * user_id tag 2 (schema/PersonID.java:322-326): `1:<cookie>` /
    * `2:<zero-padded user id>`. String min == Thrift compareTo min, so
    * min-label CC runs on the key with no struct-null ordering pitfalls.
    * (User ids are non-negative; zero-padding keeps lexicographic ==
    * numeric order.)
    */
  def personKey(id: Column): Column =
    when(id.getField("cookie").isNotNull, concat(lit("1:"), id.getField("cookie")))
      .otherwise(concat(lit("2:"), lpad(id.getField("userId").cast("string"), 19, "0")))

  /** DuckDB fragments for the same encoding. */
  def userKeySql(e: String): String = s"'2:' || lpad(CAST($e AS VARCHAR), 19, '0')"
  def cookieKeySql(e: String): String = s"'1:' || ($e)"

  /** Fixed-iteration damped PageRank over a directed (src, dst) edge set:
    * pr₀ = 1/N; pr_{k+1}(v) = (1-d)/N + d·Σ_{u→v} pr_k(u)/outdeg(u)
    * (dangling mass not redistributed — the plain power-iteration form,
    * unrolled identically in the DuckDB oracle).
    *
    * Scale: the edge+outdegree relation is src-partitioned and
    * checkpointed ONCE — every iteration joins ranks on src with no
    * edge re-shuffle (the CC loop's layout trick); contributions
    * aggregate map-side per dst. The node count is a one-row broadcast,
    * never a driver constant baked into the plan by collect.
    *
    * Each iteration SNAPS pr to 12 decimals: parallel double summation
    * is order-dependent (±~1e-16 across partition schedules), and this
    * graph's rational arithmetic produces values that terminate exactly
    * ON a rounding boundary (0.0022675 at sf0.1), so without the snap
    * the final round(…,6) flips between runs AND between engines — the
    * oracle applies the same 12-digit snap per step, making the whole
    * power iteration bit-deterministic in both. 12 digits: ~3000× above
    * summation noise, below any digit the 6-digit report can see.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, d: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val nRow = broadcast(nodes.agg(count(lit(1)).cast("double").as("nn")))
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(col("src"))
      .localCheckpoint()
    var ranks = nodes.crossJoin(nRow)
      .select(col("node"), (lit(1.0) / col("nn")).as("pr"))
    for (i <- 1 to iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("outdeg")).as("csum"))
      ranks = nodes.join(contrib, Seq("node"), "left_outer").crossJoin(nRow)
        .select(col("node"),
          round(lit(1.0 - d) / col("nn") + lit(d) * coalesce(col("csum"), lit(0.0)), 12)
            .as("pr"))
      // truncate lineage every few rounds (the CC loop's rule): a
      // convergence-length run would otherwise stack one join+agg plan
      // per iteration into the optimizer and scheduler
      if (i % 5 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Incremental connected components: absorb a NEW edge batch into an
    * existing labeling without touching the old edge set. The prior
    * labeling is itself a connectivity-preserving compression of the old
    * graph — star edges (node → label) reproduce exactly its components
    * (every CC component has ≥2 nodes, so every old node rides some star
    * edge) — so CC over (stars ∪ newEdges) equals CC over
    * (oldEdges ∪ newEdges), including min-id labels.
    *
    * Scale: the nightly-ingest shape (the reference re-runs
    * normalizeUserIds over ALL equiv facts each batch,
    * BatchWorkflow.java:653-687). The old graph may be arbitrarily
    * large; its labeling is node-sized, stars have diameter 2, and new
    * edges are the delta — so the iteration converges in O(log) rounds
    * over node-sized input instead of graph-diameter rounds over the
    * full edge set. Parity with the full recompute is pinned in
    * GraphOpsSpec (including cross-component merges) and the declared
    * query shares `connected_components`' recursive-CTE oracle.
    */
  def connectedComponentsIncremental(labels: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val stars = labels.where(col("node") =!= col("label"))
      .select(col("node").as("src"), col("label").as("dst"))
    connectedComponents(stars.unionAll(newEdges.select(col("src"), col("dst"))))
  }

  /** The fixture equiv-edge rule over ANY relation with a `user_id`
    * column — the ONE Spark-side definition that must stay in lockstep
    * with the `edgesBody` SQL below (connected_components,
    * cc_incremental, and stream_cc's per-microbatch derivation all
    * share the recursive-CTE oracle built from it).
    */
  def equivEdgesOf(userIds: DataFrame): DataFrame =
    userIds.select(col("user_id").as("src"),
        explode(array(col("user_id") % 37, col("user_id") % 41, col("user_id") % 7)).as("dst"))
      .where(col("src") =!= col("dst")).distinct()

  def equivEdges(s: SparkSession, dir: String): DataFrame =
    equivEdgesOf(Tables.eventsRaw(s, dir).select(col("user_id")))

  private val edgesBody =
    """e AS (
      |  SELECT DISTINCT user_id AS src, user_id % 37 AS dst FROM events WHERE user_id % 37 <> user_id
      |  UNION
      |  SELECT DISTINCT user_id, user_id % 41 FROM events WHERE user_id % 41 <> user_id
      |  UNION
      |  SELECT DISTINCT user_id, user_id % 7 FROM events WHERE user_id % 7 <> user_id)""".stripMargin
  private val edgesCte = s"WITH $edgesBody"

  /** The recursive-CTE closure labeling of the equiv graph — shared by
    * `connected_components`, `cc_incremental`, and the speed-layer
    * `stream_cc`, which must all land the identical labeling.
    */
  private[graft] val ccOracleSql: String =
    s"""WITH RECURSIVE $edgesBody,
       |edges AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
       |nodes AS (SELECT DISTINCT a AS node FROM edges),
       |reach AS (
       |  SELECT node, node AS m FROM nodes
       |  UNION
       |  SELECT e2.b AS node, r.m FROM reach r JOIN edges e2 ON e2.a = r.node)
       |SELECT node, min(m) AS canonical FROM reach GROUP BY node ORDER BY node""".stripMargin

  /** The POINT-LOOKUP slice of [[ccOracleSql]]: the same recursive
    * closure, filtered to the min and max node ids — the oracle for
    * `serving_label_lookup`, which must resolve exactly these through
    * the label store's bucket-pruned read.
    */
  private[graft] val ccLookupOracleSql: String =
    s"""WITH RECURSIVE $edgesBody,
       |edges AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
       |nodes AS (SELECT DISTINCT a AS node FROM edges),
       |reach AS (
       |  SELECT node, node AS m FROM nodes
       |  UNION
       |  SELECT e2.b AS node, r.m FROM reach r JOIN edges e2 ON e2.a = r.node),
       |cc AS (SELECT node, min(m) AS canonical FROM reach GROUP BY node),
       |keys AS (SELECT min(node) AS k FROM cc UNION ALL SELECT max(node) FROM cc)
       |SELECT cc.node, cc.canonical FROM cc JOIN keys ON cc.node = keys.k
       |ORDER BY cc.node""".stripMargin

  /** Exact triangle count with degree-ordered orientation (the MPC
    * triangle-counting shape, Suri & Vassilvitskii WWW'11): direct every
    * undirected edge from its lower-(degree, id) endpoint to the higher,
    * so each triangle is counted exactly once as u→v, v→w, u→w and —
    * the scale property — every node's OUT-degree is O(√m), bounding the
    * wedge join's per-key fanout that a naive (all-orientations) self-
    * join lets hit hub-degree² rows. Two shuffle joins on the oriented
    * edge relation; count is orientation-invariant, so the SQL oracle
    * can stay the plain canonical a<b form.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), Seq("b"))
    // materialize the oriented edge list ONCE: it feeds all three join
    // legs, and without this the scan → distinct → degree-join pipeline
    // re-executes per leg (exchange reuse does not fire across the
    // differently-aliased subtrees) — the same edges-working-set
    // checkpoint discipline connectedComponents uses
    val dir = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val e1 = dir.select(col("u").as("x"), col("v").as("y"))
    val e2 = dir.select(col("u").as("y"), col("v").as("z"))
    val e3 = dir.select(col("u").as("x"), col("v").as("z"))
    e1.join(e2, "y").join(e3, Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact triangle count over the equiv graph — the §2.6 family's
    // local-structure complement to CC/PageRank (community density where
    // CC gives reachability).
    withOracle(
      "graph_triangle_count",
      s"""$edgesCte,
         |und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM e WHERE src <> dst GROUP BY 1, 2)
         |SELECT count(*) AS n_triangles
         |FROM und t1 JOIN und t2 ON t1.b = t2.a
         |JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b""".stripMargin) { (s, dir) =>
      triangleCount(equivEdges(s, dir))
    },

    // Single-source BFS depths from the equiv graph's smallest node —
    // hop-distance reachability (the distance CC's labeling discards).
    // Oracle: bounded recursive walk + min(depth) per node; the cap (12)
    // only has to exceed the source's eccentricity (measured 3 at both
    // fixture SFs — the mod-edge graph is shallow by construction), while
    // the Spark side iterates exactly until the frontier empties.
    withOracle(
      "graph_bfs_depth",
      s"""WITH RECURSIVE $edgesBody,
         |edges AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
         |src0 AS (SELECT min(a) AS s FROM edges),
         |walk AS (
         |  SELECT s AS node, 0 AS depth FROM src0
         |  UNION
         |  SELECT e2.b, w.depth + 1 FROM walk w JOIN edges e2 ON e2.a = w.node
         |  WHERE w.depth < 12)
         |SELECT node, min(depth) AS depth FROM walk GROUP BY node
         |ORDER BY node""".stripMargin) { (s, dir) =>
      val ed = equivEdges(s, dir)
      val source = ed.select(least(col("src"), col("dst")).as("n"))
        .agg(min("n")).head().getLong(0)
      bfsDepths(ed, source).orderBy("node")
    },

    // EdgifyEquiv (BatchWorkflow.java:561-568): equiv facts -> edge tuples.
    withOracle(
      "edgify_equiv",
      s"$edgesCte SELECT src, dst FROM e ORDER BY src, dst") { (s, dir) =>
      equivEdges(s, dir).orderBy("src", "dst")
    },

    // BidirectionalEdge (BatchWorkflow.java:570-581): (a,b) -> {(a,b),(b,a)},
    // self-loops dropped; kept as a multiset (dedup is distinct_edges).
    withOracle(
      "bidirectional_edge",
      s"""$edgesCte
         |SELECT src, dst FROM (
         |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
         |ORDER BY src, dst""".stripMargin) { (s, dir) =>
      val e = equivEdges(s, dir)
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .orderBy("src", "dst")
    },

    // PageRank as a §2.6 iterative-graph extension beyond the
    // reference's CC (influence scoring over the same equiv graph).
    // Three damped power-iteration steps, unrolled identically in the
    // oracle so both engines compute the same closed form.
    withOracle(
      "graph_pagerank", {
        // round(…, 12) per step mirrors pageRank's per-iteration snap —
        // see its scaladoc: without it, order-dependent double summation
        // lands boundary values (0.0022675) on either side of the final
        // 6-digit round, across runs and across engines
        def step(prev: String, cur: String): String =
          s"""$cur AS (SELECT nodes.node, round(0.15 / nn + 0.85 * coalesce(c.s, 0), 12) AS pr
             |  FROM nodes CROSS JOIN n
             |  LEFT JOIN (SELECT e.dst AS node, sum($prev.pr / od.outdeg) AS s
             |             FROM e JOIN od USING (src) JOIN $prev ON $prev.node = e.src
             |             GROUP BY e.dst) c USING (node))""".stripMargin
        s"""$edgesCte,
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
           |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
           |pr0 AS (SELECT node, 1.0 / nn AS pr FROM nodes CROSS JOIN n),
           |${step("pr0", "pr1")},
           |${step("pr1", "pr2")},
           |${step("pr2", "pr3")}
           |SELECT node, round(pr, 6) AS pr FROM pr3 ORDER BY node""".stripMargin
      }) { (s, dir) =>
      pageRank(equivEdges(s, dir))
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy("node")
    },

    // Option.DISTINCT on the iteration edge set (BatchWorkflow.java:639-641).
    withOracle(
      "distinct_edges",
      s"""$edgesCte
         |SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
         |ORDER BY src, dst""".stripMargin) { (s, dir) =>
      val e = equivEdges(s, dir)
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .orderBy("src", "dst")
    },

    // normalizeUserIds iteration to fixpoint (BatchWorkflow.java:653-687).
    // Oracle: transitive-closure recursive CTE (fine at oracle scale; the
    // Spark path is the scalable one).
    withOracle(
      "connected_components",
      ccOracleSql) { (s, dir) =>
      connectedComponents(equivEdges(s, dir))
        .select(col("node"), col("label").as("canonical"))
        .orderBy("node")
    },

    // Serving POINT LOOKUP on the canonical-id labeling — the
    // query-time id-normalization read the reference's batch output
    // feeds (BatchWorkflow.java's normalized ids become the serving
    // layer's rewrite table): fold the equiv edges into the
    // bucket-partitioned LabelStore once, then resolve two
    // representative node ids (min and max — driver scalars standing in
    // for a serving request's literals) through LabelStore.lookup,
    // which reads ONLY those ids' buckets (bucket ids from the modulus
    // in the store's commit row, driver-evaluated hash -> static
    // partition filter; LabelStoreSpec pins partitions-read =
    // |distinct buckets|). Shares the recursive-CTE closure oracle,
    // sliced to the same two keys.
    //
    // Scale: a lookup touches <= |keys| of the store's buckets no
    // matter how many billions of ids the labeling holds — the
    // ElephantDB random-read role at the storage level.
    withOracle(
      "serving_label_lookup",
      ccLookupOracleSql) { (s, dir) =>
      val edges = equivEdges(s, dir)
      val storeDir = graft.Scratch.dir("graft_cclookup") + "/labels"
      graft.streaming.LabelStore.fold(s, storeDir, edges)
      val mm = edges.agg(
        min(least(col("src"), col("dst"))).as("lo"),
        max(greatest(col("src"), col("dst"))).as("hi")).head()
      graft.streaming.LabelStore.lookup(s, storeDir,
          Seq(mm.getLong(0), mm.getLong(1)))
        .getOrElse(sys.error(s"label store missing at $storeDir"))
        .select(col("node"), col("label").as("canonical"))
        .orderBy("node")
    },

    // The INCREMENTAL form declared: a deterministic ~quarter of the
    // equiv edges arrives as the "new batch", the rest is the prior
    // graph whose CC labeling stands in for it (star edges), and the
    // incremental absorb must land exactly the full recompute's
    // labeling — so it shares connected_components' oracle.
    withOracle(
      "cc_incremental",
      ccOracleSql) { (s, dir) =>
      val edges = equivEdges(s, dir)
      val isNew = (col("src") * 31 + col("dst")) % 4 === 0
      val labels = connectedComponents(edges.where(!isNew))
      connectedComponentsIncremental(labels, edges.where(isNew))
        .select(col("node"), col("label").as("canonical"))
        .orderBy("node")
    }
  )
}
