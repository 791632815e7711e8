package graft.streaming

import graft.operators.GraphOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent label store for the speed-layer connected-components
  * maintainer (`stream_cc`).
  *
  * Payload: (node, label) rows, label = the min node id of the node's
  * component. The bootstrap fold writes the full labeling; every later
  * fold appends ONLY the rows whose label changed or is new, and
  * touches no existing file.
  *
  * Layout under `dir` — a [[graft.model.LevelStore]] partitioned by
  * bucket (commit, crash story, replay ledger, compaction and its grace
  * window live there):
  *   - `labels/bucket=<pmod(hash(node), n_buckets)>/seq=<n>/` — level n.
  *   - `stats/` — the commit row: (n_buckets, labels_schema) plus the
  *     level window; `labels_schema` is the fixed read schema.
  *
  * Read path: `min(label)` per node over the live levels. CC labels only
  * ever decrease, so that min is the newest value; [[maintain]] compacts
  * the levels to that min.
  */
object LabelStore {

  /** Buckets for the labeling, fixed at the bootstrap. Production sizes
    * this so a bucket's parquet is ~128 MB (nodes/bucket × ~16 B).
    */
  val DefaultBuckets = 8

  val levels = new graft.model.LevelStore("labels", "stats", Some("bucket"),
    new StructType().add("n_buckets", IntegerType).add("labels_schema", StringType),
    labelsSchema, "label store")

  private def labelsSchema(stats: Row): StructType =
    DataType.fromJson(stats.getAs[String]("labels_schema")).asInstanceOf[StructType]

  private def bucketCol(n: Int) = pmod(hash(col("node")), lit(n))

  private def newest(labels: DataFrame): DataFrame =
    labels.groupBy("node").agg(min("label").as("label"))

  /** A store of the layout before the level store kept its labels under
    * `bucket=` dirs at the root, with its modulus in `_graft_buckets`
    * beside them and no commit row. It is refused, never misread.
    */
  private def refuseOldFormat(spark: SparkSession, dir: String): Unit =
    if (FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(dir, "_graft_buckets")))
      sys.error(s"the label store at $dir is in the pre-level layout " +
        "(bucket dirs and _graft_buckets at its root) — rebuild it into a fresh dir")

  /** Current labeling: (node, label). None if the store was never built. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    refuseOldFormat(spark, dir)
    levels.committed(spark, dir).map(row => newest(levels.read(spark, dir, row)))
  }

  /** Fold one edge batch into the store, AFFECTED-COMPONENT scoped: only
    * the components the batch touches are read into the CC iteration,
    * and only the relabeled and new nodes are written, as one level:
    *
    *   1. seed labels = labels of the batch's nodes (store scan with a
    *      broadcast batch-node join — no store shuffle);
    *   2. affected = every store row labeled with a seed label — the
    *      complete membership of the touched components, materialized
    *      once, AFFECTED-sized. A node's older, larger labels may ride
    *      along: each is still a true connection of the accumulated graph;
    *   3. incremental CC over (affected stars ∪ batch edges);
    *   4. the level = the nodes whose label fell below their newest
    *      stored one, or that are new.
    *
    * `batchId` is the [[graft.model.BatchLedger]] id (foreachBatch's
    * batchId): a replay of the last folded id is a no-op and a lower one
    * throws. Negative ids are unattributed.
    */
  def fold(spark: SparkSession, dir: String, edges: DataFrame,
      nBuckets: Int = DefaultBuckets, batchId: Long = -1L): Unit = {
    refuseOldFormat(spark, dir)
    // an empty first batch must not build an empty store
    if (edges.isEmpty) return
    if (!levels.isBuilt(spark, dir))
      levels.build(spark, dir, batchId) { seq =>
        val labels = GraphOps.connectedComponents(edges)
        levels.writeLevel(labels.withColumn("bucket", bucketCol(nBuckets)), dir, seq)
        Seq(nBuckets, StructType(labels.schema.map(_.copy(nullable = true))).json)
      }
    else
      levels.append(spark, dir, batchId) { (prev, seq) =>
        val n = prev.getAs[Int]("n_buckets")
        require(n == nBuckets, s"store at $dir was built with nBuckets=$n; fold got $nBuckets")
        val store = levels.read(spark, dir, prev).select("node", "label")
        val batchNodes = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node"))).distinct()
        val seedLabels = store.join(broadcast(batchNodes), Seq("node"))
          .select("label").distinct()
        val affected = store
          .join(broadcast(seedLabels), Seq("label"), "left_semi")
          .select("node", "label")
          .localCheckpoint() // feeds the CC iterations AND the change diff
        val oldMin = newest(affected).withColumnRenamed("label", "old_label")
        val changed = GraphOps.connectedComponentsIncremental(affected, edges)
          .join(oldMin, Seq("node"), "left_outer")
          .where(col("old_label").isNull || col("old_label") =!= col("label"))
          .select(col("node"), col("label"), bucketCol(n).as("bucket"))
        levels.writeLevel(changed, dir, seq)
        Seq(n, prev.getAs[String]("labels_schema"))
      }
  }

  /** Point lookup — the canonical-id serving read: the current label of
    * each node in `nodes`, reading ONLY those nodes' bucket directories.
    * Bucket ids are computed DRIVER-SIDE by evaluating the
    * `pmod(hash(node), n_buckets)` expression folds partition by over
    * literals cast to the recorded node type under the session timezone
    * (zero Spark jobs), pushed as a static `bucket IN (...)` partition
    * filter. Results ≡ `read(...).filter(node in nodes)`. None if the
    * store was never built.
    */
  def lookup(spark: SparkSession, dir: String, nodes: Seq[Any]): Option[DataFrame] = {
    refuseOldFormat(spark, dir)
    levels.committed(spark, dir).map { row =>
      require(nodes.nonEmpty, "lookup needs at least one node id")
      val n = row.getAs[Int]("n_buckets")
      val nodeType = labelsSchema(row)("node").dataType
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val bucketIds = nodes.map { v =>
        val l = Literal(Cast(Literal(v), nodeType, tz).eval(null), nodeType)
        Pmod(new Murmur3Hash(Seq(l)), Literal(n)).eval(null).asInstanceOf[Int]
      }.distinct
      newest(levels.read(spark, dir, row)
        .where(col("bucket").isin(bucketIds: _*) && col("node").isin(nodes: _*)))
    }
  }

  /** Compact the levels into one holding each node's newest label once
    * more than `maxLevels` are live ([[graft.model.LevelStore.maintain]]);
    * returns whether it ran.
    */
  def maintain(spark: SparkSession, dir: String, maxLevels: Int = 16): Boolean = {
    refuseOldFormat(spark, dir)
    levels.maintain(spark, dir, maxLevels,
      _.groupBy("node", "bucket").agg(min("label").as("label")))
  }
}
