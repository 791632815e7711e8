package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Upsert store for streamed serving views (`stream_upsert`'s
  * maintainer, the ElephantDB per-key random-read role —
  * `BatchWorkflow.java:359-364`).
  *
  * Payload: the caller's rows plus a `_deleted` tombstone flag. A fold
  * is one append of the change batch; nothing existing is read,
  * rewritten or renamed.
  *
  * Layout under `dir` — a [[graft.model.LevelStore]] partitioned by
  * bucket (commit, crash story, replay ledger, compaction and its grace
  * window live there):
  *   - `rows/bucket=<pmod(hash(keys), n_buckets)>/seq=<n>/` — level n:
  *     one fold's rows, one file per touched bucket.
  *   - `stats/` — the commit row: (n_buckets, rows_schema) plus the level
  *     window. `rows_schema` is the payload's data columns, the fixed
  *     read schema; `n_buckets` is the modulus every fold and lookup
  *     hashes keys with.
  *
  * Read path: the latest version of each key by level `seq`, tombstones
  * dropped. [[lookup]] prunes the scan to the looked-up keys' buckets.
  * [[maintain]] compacts the levels down to the live rows.
  */
object UpsertStore {

  /** Hash buckets for the keyspace, fixed at the first fold. Production
    * sizes this so a compacted bucket is ~128 MB.
    */
  val DefaultBuckets = 8

  val levels = new graft.model.LevelStore("rows", "stats", Some("bucket"),
    new StructType().add("n_buckets", IntegerType).add("rows_schema", StringType),
    rowsSchema, "upsert store")

  private def rowsSchema(stats: Row): StructType =
    DataType.fromJson(stats.getAs[String]("rows_schema")).asInstanceOf[StructType]

  private def bucketCol(keys: Seq[String], n: Int): Column =
    pmod(hash(keys.map(col): _*), lit(n))

  /** A store of the layout before the level store kept its rows under
    * `bucket=` dirs at the root, with its modulus in `_graft_buckets`
    * beside them and no commit row. It is refused, never misread.
    */
  private def refuseOldFormat(spark: SparkSession, dir: String): Unit =
    if (FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(dir, "_graft_buckets")))
      sys.error(s"the upsert store at $dir is in the pre-level layout " +
        "(bucket dirs and _graft_buckets at its root) — rebuild it into a fresh dir")

  /** Append one change batch as one level. `deletedCol` (if set) names a
    * Boolean column of `batch` marking tombstone rows; it becomes the
    * `_deleted` flag (NULL = not deleted). `seq` is the batch id of the
    * [[graft.model.BatchLedger]]: a replay of the last folded `seq` is a
    * no-op and a lower one throws — foreachBatch's batchId is exactly
    * that. The first non-empty fold builds the store and fixes its
    * bucket count and row schema; every later batch must carry the same
    * columns and types.
    *
    * Contract: a batch carries AT MOST ONE row per key. Rows sharing a
    * key within one level would resolve arbitrarily — a DataFrame has no
    * row order to define "last write wins" inside a batch.
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String], seq: Long, deletedCol: Option[String] = None,
      nBuckets: Int = DefaultBuckets): Unit = {
    refuseOldFormat(spark, dir)
    // an empty first batch must not build an empty store
    if (batch.isEmpty) return
    val rows = deletedCol match {
      case Some(c) => batch.withColumn(c, coalesce(col(c), lit(false)))
        .withColumnRenamed(c, "_deleted")
      case None => batch.withColumn("_deleted", lit(false))
    }
    def write(schema: StructType, n: Int, level: Int): Unit = {
      def cols(s: StructType) = s.map(f => f.name -> f.dataType).toSet
      require(cols(schema) == cols(rows.schema), s"a fold into the upsert store at " +
        s"$dir must carry ${schema.simpleString}; got ${rows.schema.simpleString}")
      // parquet reads resolve columns by name: the order may differ
      levels.writeLevel(rows.withColumn("bucket", bucketCol(keys, n)), dir, level)
    }
    if (levels.isBuilt(spark, dir))
      levels.append(spark, dir, seq) { (prev, level) =>
        val n = prev.getAs[Int]("n_buckets")
        require(n == nBuckets, s"store at $dir was built with nBuckets=$n; fold got $nBuckets")
        write(rowsSchema(prev), n, level)
        Seq(n, prev.getAs[String]("rows_schema"))
      }
    else {
      val schema = StructType(rows.schema.map(_.copy(nullable = true)))
      levels.build(spark, dir, seq) { level =>
        write(schema, nBuckets, level)
        Seq(nBuckets, schema.json)
      }
    }
  }

  /** The live rows: each key's version at its highest level `seq`, in
    * one pass — max_by over the non-key columns, a map-side-combinable
    * argmax aggregate, not a per-key window and not a max+self-join —
    * with tombstoned keys dropped.
    */
  private def live(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val carried = rows.columns.filterNot(keys.contains)
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*), col("seq")).as("_r"))
      .select(keys.map(col) ++ carried.map(c => col(s"_r.$c").as(c)): _*)
      .where(!col("_deleted"))
  }

  /** Current state: latest version per key, tombstones dropped,
    * bookkeeping columns removed. None if the store was never built.
    */
  def read(spark: SparkSession, dir: String, keys: Seq[String]): Option[DataFrame] = {
    refuseOldFormat(spark, dir)
    levels.committed(spark, dir).map { row =>
      live(levels.read(spark, dir, row), keys).drop("seq", "_deleted", "bucket")
    }
  }

  /** Point lookup — the serving random-read: resolve `keyVals` (one Seq
    * per composite key tuple, values in `keys` order) reading ONLY those
    * keys' bucket directories. The bucket ids are computed DRIVER-SIDE
    * by evaluating the `pmod(hash(...), n_buckets)` expression the folds
    * partition by over literals cast to the recorded key types (`hash`
    * is type-sensitive: hash(5) != hash(5L)) under the session timezone,
    * then pushed as a static `bucket IN (...)` partition filter.
    * Results ≡ `read(...).filter(keys in keyVals)`.
    */
  def lookup(spark: SparkSession, dir: String, keys: Seq[String],
      keyVals: Seq[Seq[Any]]): Option[DataFrame] = {
    refuseOldFormat(spark, dir)
    levels.committed(spark, dir).map { row =>
      require(keyVals.nonEmpty, "lookup needs at least one key tuple")
      require(keyVals.forall(_.length == keys.length),
        s"every key tuple must have ${keys.length} values (keys=$keys)")
      val n = row.getAs[Int]("n_buckets")
      val keyTypes = keys.map(k => rowsSchema(row)(k).dataType)
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val bucketIds = keyVals.map { vs =>
        val lits = vs.zip(keyTypes).map { case (v, dt) =>
          Literal(Cast(Literal(v), dt, tz).eval(null), dt)
        }
        Pmod(new Murmur3Hash(lits), Literal(n)).eval(null).asInstanceOf[Int]
      }.distinct
      val keyPred = keyVals.map { vs =>
        keys.zip(vs).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      }.reduce(_ || _)
      live(levels.read(spark, dir, row).where(col("bucket").isin(bucketIds: _*) && keyPred),
        keys).drop("seq", "_deleted", "bucket")
    }
  }

  /** Compact the levels into the live rows (latest version per key,
    * tombstoned keys dropped) once more than `maxLevels` are live
    * ([[graft.model.LevelStore.maintain]]); returns whether it ran.
    */
  def maintain(spark: SparkSession, dir: String, keys: Seq[String],
      maxLevels: Int = 16): Boolean = {
    refuseOldFormat(spark, dir)
    levels.maintain(spark, dir, maxLevels, live(_, keys))
  }
}
