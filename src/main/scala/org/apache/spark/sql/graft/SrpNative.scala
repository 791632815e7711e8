package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructType}

/** All sign-random-projection band codes of a float-array embedding in one
  * whole-stage-codegen'd row-local pass — `nTables` codes of `nPlanes` bits
  * each, bit p of table t = sign of the dot with deterministic Gaussian
  * hyperplane (t, p).
  *
  * This is the native replacement for the closure-UDF form that previously
  * fed ann_lsh and near_dedup_cosine_lsh: the UDF paid a per-row
  * `Seq[Float]` conversion through the Scala-UDF converter layer on the
  * hottest vector path in the engine, exactly the boxing cost FloatVecDot
  * was built to avoid. Same hyperplane family (Random(0x5eed0000 + t*b+p)
  * Gaussians), same accumulation order, same ragged-row truncation — the
  * emitted codes are bit-identical to the UDF's, so index shapes and
  * recall fixtures don't move.
  *
  * `dims` is the sampled embedding width: the hyperplanes are materialized
  * once per executor (transient lazy, ~tables×planes×dims doubles, ≤ a few
  * MB at any sane shape) instead of shipping per-row work through a
  * driver closure. Rows longer than `dims` project their first `dims`
  * components (the historical explode+join form dropped them via the
  * inner weight join); shorter rows project what they have.
  *
  * Lives under org.apache.spark.sql because ExpectsInputTypes /
  * ExpressionUtils are private[sql]; standard extension placement.
  */
case class SrpBandCodes(child: Expression, nTables: Int, nPlanes: Int, dims: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(nTables >= 1, s"nTables must be >= 1, got $nTables")
  require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63], got $nPlanes")
  require(dims >= 1, s"dims must be >= 1, got $dims")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // weights[t*nPlanes + p][d]: deterministic Gaussian hyperplanes, seeded
  // per plane so codes are reproducible across executors and rounds
  @transient private lazy val weights: Array[Array[Double]] =
    SrpNative.hyperplanes(nTables, nPlanes, dims)

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dims)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var code = 0L
      var p = 0
      while (p < nPlanes) {
        val w = weights(t * nPlanes + p)
        var acc = 0.0
        var d = 0
        while (d < n) { acc += w(d) * v.getFloat(d); d += 1 }
        if (acc >= 0) code |= 1L << p
        p += 1
      }
      out(t) = code
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srp", this, classOf[SrpBandCodes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBandCodes =
    copy(child = newChild)

  override def prettyName: String = "srp_band_codes"
}

/** Index of the nearest centroid (squared Euclidean, ties → lowest index,
  * matching MLlib's findClosest) over a float-array embedding — the IVF
  * cell-assignment pass as one codegen'd row-local expression.
  *
  * Replaces `KMeansModel.transform` on the FULL corpus: transform requires
  * boxing every row into an ml.linalg.Vector (a per-row UDF conversion)
  * and, the way it was previously staged, a corpus-sized localCheckpoint.
  * The centroid table is tiny (≤4096 cells × dims floats — ≤ ~12 MB at
  * the cap) and rides the task binary, which Spark broadcasts; the corpus
  * streams through untouched. K-means TRAINING still runs in MLlib on the
  * bounded sample — only the corpus-wide assignment is de-MLlib'd.
  *
  * Distances use the exact Σ(x−c)² form in double precision (no norm-trick
  * cancellation), over the common prefix when row and centroid widths
  * differ (ragged rows, as in [[SrpBandCodes]]).
  *
  * `withResidual` makes the result the struct (cell, residual): the row
  * minus that cell's centroid, `v(i) − c(i)` in float arithmetic, which is
  * the IVF-PQ encode input taken from the same centroid table. As
  * `zip_with` pads, a position past either side's length, or a null
  * component, gives a null residual component.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]],
    withResidual: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroid table must be non-empty")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType =
    if (!withResidual) IntegerType
    else new StructType()
      .add("cell", IntegerType, nullable = false)
      .add("residual", ArrayType(FloatType, containsNull = true), nullable = false)

  def compute(v: ArrayData): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var cIdx = 0
    while (cIdx < centroids.length) {
      val c = centroids(cIdx)
      val n = math.min(v.numElements(), c.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = v.getFloat(i).toDouble - c(i).toDouble
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = cIdx }
      cIdx += 1
    }
    best
  }

  def computeWithResidual(v: ArrayData): InternalRow = {
    val cell = compute(v)
    val c = centroids(cell)
    val n = v.numElements()
    var dense = n == c.length
    var j = 0
    while (dense && j < n) { dense = !v.isNullAt(j); j += 1 }
    val residual =
      if (dense) {
        val out = new Array[Float](n)
        var i = 0
        while (i < n) { out(i) = v.getFloat(i) - c(i); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
      } else new GenericArrayData(Array.tabulate[Any](math.max(n, c.length)) { i =>
        if (i < n && i < c.length && !v.isNullAt(i)) v.getFloat(i) - c(i) else null
      })
    InternalRow(cell, residual)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (withResidual) computeWithResidual(v) else compute(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nc", this, classOf[NearestCentroid].getName)
    val fn = if (withResidual) "computeWithResidual" else "compute"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.$fn($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}

/** The `n` nearest centroid indices in ascending-distance order (squared
  * Euclidean, ties → lowest index) — the multi-assignment generalization
  * of [[NearestCentroid]]. Cluster-scoped dedup (SemDeDup family) misses
  * every pair straddling a Voronoi boundary under single assignment;
  * assigning each vector to its `n` nearest cells lets boundary pairs
  * co-occur in a shared cell at the cost of n× corpus replicas in the
  * per-cell self-join — the standard cluster-overlap recall/cost knob
  * (same trade as IVF's nProbe, but on the build side). Element 0 is
  * exactly [[NearestCentroid]]'s answer, so n=1 degenerates to the
  * single-assign behavior.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]],
    n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroid table must be non-empty")
  require(n >= 1 && n <= centroids.length,
    s"n must be in [1, ${centroids.length}], got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val k = centroids.length
    val dist = new Array[Double](k)
    var cIdx = 0
    while (cIdx < k) {
      val c = centroids(cIdx)
      val m = math.min(v.numElements(), c.length)
      var d = 0.0
      var i = 0
      while (i < m) {
        val diff = v.getFloat(i).toDouble - c(i).toDouble
        d += diff * diff
        i += 1
      }
      dist(cIdx) = d
      cIdx += 1
    }
    // partial selection sort: n is small (2-4 in practice), k ≤ 4096
    val out = new Array[Int](n)
    val used = new Array[Boolean](k)
    var s = 0
    while (s < n) {
      var best = -1
      var bestD = Double.MaxValue
      var q = 0
      while (q < k) {
        if (!used(q) && dist(q) < bestD) { bestD = dist(q); best = q }
        q += 1
      }
      // no distance below MaxValue left (a NaN or ±Inf component makes
      // them all NaN or Inf): the lowest unused cell, as NearestCentroid
      // keeps cell 0 for such a row
      if (best < 0) best = used.indexOf(false)
      used(best) = true
      out(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ncs", this, classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroids"
}

/** The IVF cells a probe scans, in rank order: array of (cell,
  * pdotc) structs. Probe unit vector p̂ against the centroid table,
  * minimizing |p̂ − c|² on the unit sphere ≡ maximizing
  * d = p̂·c − |c|²/2; `pdotc` (= p̂·c) is the cell-constant half of the
  * decomposed IVF-PQ score. Cells rank by d descending, ties to the
  * lower cell id, and the first min(nProbe, cells) are kept. With
  * `margin > 0`, a cell after the first is kept only while d stays
  * within `margin` of the first cell's d.
  *
  * The arithmetic is the Column form's, step for step: both dots
  * accumulate sequentially in double over the common prefix as
  * [[FloatVecDot]] does, d is `pdotc - 0.5 * |c|²`, and doubles compare
  * as Spark orders them (NaN largest, -0.0 equal to 0.0). So the cells
  * and scores equal a cross join with the centroid table ranked by a
  * `row_number` window, without the window's shuffle or the table's
  * broadcast.
  */
case class ProbeCells(child: Expression, centroids: Array[Array[Float]],
    nProbe: Int, margin: Double)
    extends UnaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroid table must be non-empty")
  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(new StructType()
    .add("cell", IntegerType, nullable = false)
    .add("pdotc", DoubleType, nullable = false), containsNull = false)

  private def dot(a: ArrayData, b: Array[Float]): Double = {
    val n = math.min(a.numElements(), b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  // |c|² per centroid, accumulated as FloatVecDot(c, c) does
  @transient private lazy val halfNorms: Array[Double] = centroids.map { c =>
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
    0.5 * acc
  }

  def compute(v: ArrayData): ArrayData = {
    val pdotc = centroids.map(c => dot(v, c))
    val d = Array.tabulate(centroids.length)(i => pdotc(i) - halfNorms(i))
    val ranked = d.indices.sortWith { (a, b) =>
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(d(b), d(a))
      c < 0 || (c == 0 && a < b)
    }.take(nProbe)
    val kept = if (margin <= 0) ranked
      else ranked.head +: ranked.tail.filter(i => d(ranked.head) - d(i) <= margin)
    new GenericArrayData(kept.map(i => InternalRow(i, pdotc(i))).toArray[Any])
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pc", this, classOf[ProbeCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeCells =
    copy(child = newChild)

  override def prettyName: String = "probe_cells"
}

/** Multi-probe SRP codes for the PROBE side of an LSH search (Lv et al.,
  * VLDB'07 §4): per table, the base band code plus `nFlips` perturbed
  * codes — the 1-bit and 2-bit flip sets ranked by summed projection
  * margin Σ|w·v| over the flipped bits (a low margin means low confidence
  * in that bit, so flipping it is the likeliest place a near neighbor's
  * code differs). A neighbor that lands one or two low-confidence bits
  * away in some table is found WITHOUT another table: at a fixed recall
  * target this cuts the table count (≈ index size and candidate-join
  * width) several-fold, which at 100 TB is the difference between T and
  * ~T/(1+nFlips) corpus code replicas being shuffled into the candidate
  * join.
  *
  * Probe order is deterministic: ascending margin sum, ties broken by
  * fewer flipped bits then lower bit mask. Under that order the first two
  * probes are always the two lowest-margin SINGLE flips (a pair's sum is
  * ≥ the larger of its members, and the cardinality tie-break covers the
  * zero-margin edge), so shapes pinned at `nFlips ≤ 2` are bit-identical
  * to the earlier single-flip-only form. `nFlips` may range up to
  * nPlanes + C(nPlanes, 2), the full 1+2-bit perturbation family.
  *
  * Output layout: `nTables × (1 + nFlips)` longs, table-major —
  * `out[t*(1+nFlips)]` is table t's base code (bit-identical to
  * [[SrpBandCodes]]: same hyperplane family, same accumulation order),
  * followed by its probes in rank order. `posexplode` then
  * `pos / (1+nFlips)` recovers the table id. The corpus side keeps the
  * plain single-code expression — multi-probe is a probe-side-only widening.
  */
case class SrpMultiProbeCodes(child: Expression, nTables: Int, nPlanes: Int,
    dims: Int, nFlips: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(nTables >= 1, s"nTables must be >= 1, got $nTables")
  require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63], got $nPlanes")
  require(dims >= 1, s"dims must be >= 1, got $dims")
  require(nFlips >= 0 && nFlips <= nPlanes + nPlanes * (nPlanes - 1) / 2,
    s"nFlips must be in [0, nPlanes + C(nPlanes,2)], got $nFlips at $nPlanes planes")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val weights: Array[Array[Double]] =
    SrpNative.hyperplanes(nTables, nPlanes, dims)

  // 1-bit and 2-bit perturbation candidates per table
  @transient private lazy val nCand: Int = nPlanes + nPlanes * (nPlanes - 1) / 2

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dims)
    val stride = 1 + nFlips
    val out = new Array[Long](nTables * stride)
    val margins = new Array[Double](nPlanes)
    val scores = new Array[Double](nCand)
    val masks = new Array[Long](nCand)
    val used = new Array[Boolean](nCand)
    var t = 0
    while (t < nTables) {
      var code = 0L
      var p = 0
      while (p < nPlanes) {
        val w = weights(t * nPlanes + p)
        var acc = 0.0
        var d = 0
        while (d < n) { acc += w(d) * v.getFloat(d); d += 1 }
        if (acc >= 0) code |= 1L << p
        margins(p) = math.abs(acc)
        p += 1
      }
      out(t * stride) = code
      if (nFlips > 0) {
        // candidate table: singles then pairs (summed margins)
        var c = 0
        var i = 0
        while (i < nPlanes) {
          scores(c) = margins(i); masks(c) = 1L << i; used(c) = false
          c += 1; i += 1
        }
        i = 0
        while (i < nPlanes) {
          var j = i + 1
          while (j < nPlanes) {
            scores(c) = margins(i) + margins(j)
            masks(c) = (1L << i) | (1L << j)
            used(c) = false
            c += 1; j += 1
          }
          i += 1
        }
        // nFlips best candidates by (score, bit count, mask) — partial
        // selection: probe rows are few, nCand ≤ ~2k, nFlips small
        var f = 0
        while (f < nFlips) {
          var best = -1
          var bestS = Double.MaxValue
          var bestBits = Int.MaxValue
          var bestMask = Long.MaxValue
          var q = 0
          while (q < nCand) {
            if (!used(q)) {
              val s = scores(q)
              if (s < bestS) {
                bestS = s; best = q
                bestBits = java.lang.Long.bitCount(masks(q)); bestMask = masks(q)
              } else if (s == bestS) {
                val bits = java.lang.Long.bitCount(masks(q))
                if (bits < bestBits || (bits == bestBits && masks(q) < bestMask)) {
                  best = q; bestBits = bits; bestMask = masks(q)
                }
              }
            }
            q += 1
          }
          // no finite margin sum left (a NaN or ±Inf component): the
          // lowest unused candidate
          if (best < 0) best = used.indexOf(false)
          used(best) = true
          out(t * stride + 1 + f) = code ^ masks(best)
          f += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpmp", this, classOf[SrpMultiProbeCodes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpMultiProbeCodes =
    copy(child = newChild)

  override def prettyName: String = "srp_multiprobe_codes"
}

object SrpNative {

  /** Deterministic Gaussian hyperplanes, seeded per (table, plane) — the
    * ONE hyperplane family both the corpus-side [[SrpBandCodes]] and the
    * probe-side [[SrpMultiProbeCodes]] draw from, so their base codes are
    * bit-identical by construction.
    */
  private[graft] def hyperplanes(nTables: Int, nPlanes: Int,
      dims: Int): Array[Array[Double]] =
    Array.tabulate(nTables * nPlanes) { tp =>
      val rnd = new java.util.Random(0x5eed0000L + tp)
      Array.fill(dims)(rnd.nextGaussian())
    }

  /** `srp_band_codes(vec, nTables, nPlanes, dims)` as a Column. */
  def srpBandCodes(vec: Column, nTables: Int, nPlanes: Int, dims: Int): Column =
    ExpressionUtils.column(
      SrpBandCodes(ExpressionUtils.expression(vec), nTables, nPlanes, dims))

  /** `srp_multiprobe_codes(vec, nTables, nPlanes, dims, nFlips)` as a Column. */
  def srpMultiProbeCodes(vec: Column, nTables: Int, nPlanes: Int, dims: Int,
      nFlips: Int): Column =
    ExpressionUtils.column(
      SrpMultiProbeCodes(ExpressionUtils.expression(vec), nTables, nPlanes, dims, nFlips))

  /** `nearest_centroid(vec)` against a fixed centroid table, as a Column:
    * the cell, or with `withResidual` the (cell, residual) struct.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]],
      withResidual: Boolean = false): Column =
    ExpressionUtils.column(
      NearestCentroid(ExpressionUtils.expression(vec), centroids, withResidual))

  /** `probe_cells(unit vec, nProbe, margin)` — a probe's IVF cells, as a Column. */
  def probeCells(unit: Column, centroids: Array[Array[Float]], nProbe: Int,
      margin: Double): Column =
    ExpressionUtils.column(
      ProbeCells(ExpressionUtils.expression(unit), centroids, nProbe, margin))

  /** `nearest_centroids(vec, n)` — the n nearest cells, as a Column. */
  def nearestCentroids(vec: Column, centroids: Array[Array[Float]], n: Int): Column =
    ExpressionUtils.column(
      NearestCentroids(ExpressionUtils.expression(vec), centroids, n))
}
