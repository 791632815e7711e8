package graft.model

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The seq-level store lifecycle shared by the persistent stores that
  * take small appends and are compacted later (the Pail `absorb` /
  * `consolidate` pair): [[graft.operators.ShingleStore]],
  * [[graft.operators.LexIndex]], [[graft.operators.VectorIndex]],
  * [[graft.streaming.UpsertStore]] and [[graft.streaming.LabelStore]].
  * Each store supplies only its payload write, its own commit-row
  * fields, its read expression and, if it collapses versions, its
  * compaction expression; this class owns the commit, the recovery and
  * the compaction.
  *
  * Layout under a store `dir`:
  *   - `<data>/[<part>=<k>/]seq=<n>/` — level n of the payload, under an
  *     optional store partition (`bucket=` for postings, upsert rows
  *     and labels, `cell=` for codes, none for signatures). A level
  *     adds at most one file per partition for the partitioned stores.
  *   - `<commit>/` — ONE row: the store's own fields, then `min_seq`,
  *     `max_seq` and `last_batch`. Written on the driver with
  *     [[OneRowParquet.write]] (no Spark job).
  *
  * == Crash story ==
  *
  * The commit row is the single commit point of every mutation, and a
  * level is visible only inside its `[min_seq, max_seq]` window:
  *
  *   - [[build]] writes level 0, then the commit row LAST (in place — no
  *     row exists yet). A crash before the row lands reads as not built
  *     everywhere; the retried build clears the torn leftovers and
  *     converges. A build over a COMMITTED store is refused: in-place
  *     rewrite has no commit point, replacements go to a fresh dir (and a
  *     [[ServingPointer]] flip).
  *   - [[append]] writes level `max_seq + 1` — invisible to every reader
  *     — then commits the new row through [[StoreSwap]]'s two-rename. A
  *     crash anywhere before that swap (mid-level, after the level,
  *     mid-write of the row's tmp, mid-swap) leaves readers on EXACTLY the
  *     old store; the next writer entry finishes or rolls back the swap
  *     and prunes the orphaned levels, so a retry converges instead of
  *     double-counting.
  *   - A caller with a durable batch sequence passes `batchId`; the row
  *     records the last applied id and [[BatchLedger]] makes a replay of
  *     it a no-op (an id below it throws) — exactly-once across
  *     maintainer restarts.
  *   - Readers never take the writer's recovery path: they resolve the
  *     committed row (through a torn swap, retrying a read that straddles
  *     a live one) and read with the `seq` gate,
  *     which is partition pruning — uncommitted and retired levels cost
  *     nothing. The single-writer contract covers writers only.
  *
  * == Compaction and the grace window ==
  *
  * [[maintain]] fires when the live level count `max_seq - min_seq + 1`
  * (from the commit row — no listing) exceeds `maxLevels`. It rewrites
  * the committed relation through the store's compaction expression
  * (the identity unless the store collapses versions) into ONE new
  * level at `max_seq + 1` and commits `min_seq = max_seq` = that level:
  * one swap moves every reader planned after it to the compacted level,
  * and a crash before the swap leaves the old levels serving (the
  * orphan is pruned on the next entry). The retired levels are NOT
  * deleted by the compaction: a read planned before the swap is a lazy
  * plan still listing their files, and would fail at task time. They
  * are invisible to every new reader and cost only disk until the NEXT
  * writer entry prunes `seq < min_seq` — that interval is the grace
  * window. A read that outlives a whole maintenance interval is the
  * remaining hazard, the same one-interval contract
  * [[ServingPointer.dropSuperseded]] gives version dirs.
  *
  * == Old formats ==
  *
  * A store committed by an older binary — a row without `min_seq` or
  * without one of the store's fields, or (VectorIndex before round 13) no
  * commit row at all — fails loudly on every entry and is never
  * misread. The upgrade is a rebuild into a fresh dir.
  *
  * @param data     the payload dir name under the store dir
  * @param commit   the commit-row dir name
  * @param part     the store's partition column above `seq`, if any
  * @param fields   the store's own commit-row fields
  * @param payload  the payload's data columns, given the commit row
  * @param what     the store's name in errors ("lex index", ...)
  */
final class LevelStore(data: String, commit: String, part: Option[String],
    fields: StructType, payload: Row => StructType, what: String) {

  private val commitSchema = fields
    .add("min_seq", LongType).add("max_seq", LongType).add("last_batch", LongType)

  def dataDir(dir: String): String = s"$dir/$data"
  private def commitDir(dir: String) = s"$dir/$commit"

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Whether a COMMITTED build exists at `dir`, resolving through a torn
    * commit swap: a first commit that died mid-write reads as not built.
    */
  def isBuilt(spark: SparkSession, dir: String): Boolean =
    StoreSwap.committedPath(spark, commitDir(dir)).isDefined

  /** The committed row, None if never built. Read-only (no recovery);
    * a read racing a live commit swap is retried
    * ([[OneRowParquet.committed]]).
    */
  def committed(spark: SparkSession, dir: String): Option[Row] =
    OneRowParquet.committed(spark, commitDir(dir)).map { row =>
      val missing = commitSchema.fieldNames.filterNot(row.schema.fieldNames.contains)
      if (missing.nonEmpty) sys.error(s"the $what at $dir was committed in an " +
        s"older format (no ${missing.mkString(", ")}) — rebuild it into a fresh dir")
      row
    }

  private def committedOrFail(spark: SparkSession, dir: String): Row =
    committed(spark, dir).getOrElse(
      sys.error(s"no readable $commit under ${commitDir(dir)} — $what not built"))

  /** The committed row and the committed levels (`seq` in
    * `[min_seq, max_seq]`), read with the payload's fixed schema — no
    * schema inference, and an empty store reads as an empty relation.
    */
  def read(spark: SparkSession, dir: String): (Row, DataFrame) = {
    val row = committedOrFail(spark, dir)
    (row, read(spark, dir, row))
  }

  /** The levels `row`, a committed row of this store, makes live. */
  def read(spark: SparkSession, dir: String, row: Row): DataFrame = {
    val schema = part.foldLeft(payload(row))(_.add(_, IntegerType)).add("seq", IntegerType)
    spark.read.schema(schema).parquet(dataDir(dir))
      .where(col("seq").between(
        lit(row.getAs[Long]("min_seq").toInt), lit(row.getAs[Long]("max_seq").toInt)))
  }

  /** Write `df` as level `seq`: one file per store partition. */
  def writeLevel(df: DataFrame, dir: String, seq: Int): Unit = {
    val leveled = df.withColumn("seq", lit(seq))
    part.fold(leveled)(p => leveled.repartition(col(p)))
      .write.mode(SaveMode.Append).partitionBy(part.toSeq :+ "seq": _*)
      .parquet(dataDir(dir))
  }

  /** Build into a dir that has never committed: `level(0)` writes level 0
    * (via [[writeLevel]]) and returns the store's commit-row values.
    */
  def build(spark: SparkSession, dir: String, batchId: Long)(
      level: Int => Seq[Any]): Unit = {
    StoreSwap.commit(spark, commitDir(dir))
    if (isBuilt(spark, dir))
      sys.error(s"refusing to rebuild over the built $what at $dir — write the " +
        "replacement to a fresh dir, or evolve this one via append/maintain")
    fs(spark).delete(new Path(commitDir(dir)), true) // torn first commit
    fs(spark).delete(new Path(dataDir(dir)), true)
    val values = level(0)
    OneRowParquet.write(spark, commitDir(dir), commitSchema, values ++ Seq(0L, 0L, batchId): _*)
  }

  /** Append one level: `level(prev, seq)` writes level `seq` and returns
    * the store's commit-row values given the previous row. A replay of
    * the committed `batchId` is a no-op.
    */
  def append(spark: SparkSession, dir: String, batchId: Long)(
      level: (Row, Int) => Seq[Any]): Unit = {
    val prev = recover(spark, dir)
    val last = prev.getAs[Long]("last_batch")
    if (!BatchLedger.isReplay(last, batchId, s"$what $dir")) {
      val seq = Math.toIntExact(prev.getAs[Long]("max_seq") + 1)
      swapIn(spark, dir, level(prev, seq), prev.getAs[Long]("min_seq"), seq,
        math.max(last, batchId))
    }
  }

  /** Compact into one level when more than `maxLevels` are live (see the
    * grace window above). `compact` maps the live levels (payload, store
    * partition and `seq` columns) to the compacted level's rows. Returns
    * whether a compaction ran.
    */
  def maintain(spark: SparkSession, dir: String, maxLevels: Int,
      compact: DataFrame => DataFrame = identity): Boolean = {
    val prev = recover(spark, dir)
    val maxSeq = prev.getAs[Long]("max_seq")
    val due = maxSeq - prev.getAs[Long]("min_seq") + 1 > maxLevels
    if (due) {
      val seq = Math.toIntExact(maxSeq + 1)
      writeLevel(compact(read(spark, dir, prev)), dir, seq)
      swapIn(spark, dir, fields.fieldNames.toSeq.map(f => prev.get(prev.fieldIndex(f))),
        seq, seq, prev.getAs[Long]("last_batch"))
    }
    due
  }

  private def swapIn(spark: SparkSession, dir: String, values: Seq[Any],
      minSeq: Long, maxSeq: Long, lastBatch: Long): Unit = {
    OneRowParquet.write(spark, StoreSwap.tmpPath(commitDir(dir)), commitSchema,
      values ++ Seq(minSeq, maxSeq, lastBatch): _*)
    StoreSwap.commit(spark, commitDir(dir))
  }

  /** The writer's entry: finish a torn commit swap, then prune `_temporary`
    * staging and every level outside `[min_seq, max_seq]` — orphans of a
    * crashed append or compaction, and levels a committed compaction
    * retired. Returns the committed row.
    */
  private def recover(spark: SparkSession, dir: String): Row = {
    StoreSwap.commit(spark, commitDir(dir))
    val row = committedOrFail(spark, dir)
    val (lo, hi) = (row.getAs[Long]("min_seq"), row.getAs[Long]("max_seq"))
    val f = fs(spark)
    def children(p: Path) = if (f.exists(p)) f.listStatus(p).toSeq else Nil
    val top = children(new Path(dataDir(dir)))
    val nested = part.toSeq.flatMap(p => top
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$p="))
      .flatMap(s => children(s.getPath)))
    for (s <- top ++ nested) {
      val name = s.getPath.getName
      val seq = if (name.startsWith("seq=")) name.stripPrefix("seq=").toLongOption else None
      if (name == "_temporary" || seq.exists(n => n < lo || n > hi))
        f.delete(s.getPath, true)
    }
    row
  }
}
