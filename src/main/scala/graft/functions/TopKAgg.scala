package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed bounded-heap top-k aggregation (SURVEY.md §2.8: the
  * `CascalogBuffer` per-group-reduce extension point as a Spark
  * `Aggregator[IN, BUF, OUT]`).
  *
  * This is the skew-proof form of "limit per group": the buffer never
  * holds more than k rows, reduce/merge are associative+commutative, so
  * Spark combines MAP-SIDE — a key with a billion rows ships at most k
  * rows per upstream partition to the shuffle, where the window form
  * sorts the entire group in one task. The window form
  * (`topk_per_group`) stays the default for high-cardinality keys; this
  * replaces it when per-key volume is the risk.
  *
  * Ordering: value DESC, id ASC — identical to the window form's
  * `ORDER BY o_totalprice DESC, o_orderkey` so the two agree exactly.
  *
  * The buffer is a pair of primitive arrays kept insertion-sorted
  * (HeapBuf), mutated in place: the common-case row — below a full
  * buffer's floor — costs one comparison and zero allocation, and an
  * improving row costs one arraycopy shift of < k elements. The previous
  * boxed-Seq buffer re-sorted a fresh Vector per improving row, which at
  * sf0.1 made the aggregate ~6.7× the window form.
  */
object TopKAgg {

  case class Entry(value: Double, id: Long)
  case class Buf(items: Seq[Entry])

  /** Insertion-sorted primitive buffer: slots [0, size) of the k-length
    * arrays are live, in output order (value DESC, id ASC). Trailing
    * slots are garbage — `size` guards every read, including after an
    * encoder round trip (sort-based fallback / shuffle).
    */
  case class HeapBuf(var size: Int, values: Array[Double], ids: Array[Long])

  // java.lang.Double.compare gives a TOTAL order (NaN comparable, -0.0
  // < 0.0) — `>`/`==` on primitives is not a strict weak ordering under
  // NaN, which would both corrupt the bounded-buffer gate (a real value
  // neither beats nor ties a NaN floor, so it's dropped) and make merge
  // split-order-dependent
  private def before(v1: Double, id1: Long, v2: Double, id2: Long): Boolean = {
    val c = java.lang.Double.compare(v2, v1) // value DESC
    c < 0 || (c == 0 && id1 < id2)
  }

  /** The slot a row (v, id) takes in a sorted buffer of `size` live
    * entries and capacity k, or -1 when it does not enter: a full buffer
    * whose floor the row does not beat stays untouched. The caller
    * shifts [slot, min(size, k - 1)) one place right (the last slot
    * drops when full) and writes the row at the slot.
    */
  private def slot(k: Int, size: Int, values: Array[Double], ids: Array[Long],
      v: Double, id: Long): Int =
    if (size >= k && !before(v, id, values(k - 1), ids(k - 1))) -1
    else {
      // everything in [0, i) stays ahead of the row
      var i = if (size < k) size else k - 1
      while (i > 0 && !before(values(i - 1), ids(i - 1), v, id)) i -= 1
      i
    }

  private def shift(arr: AnyRef, i: Int, keep: Int): Unit =
    System.arraycopy(arr, i, arr, i + 1, keep - i)

  /** Two-pointer merge of two sorted buffers, first k: output slot n
    * takes x's entry `picks(n)` when that is >= 0, else y's `~picks(n)`.
    */
  private def mergePicks(k: Int, xSize: Int, xv: Array[Double], xi: Array[Long],
      ySize: Int, yv: Array[Double], yi: Array[Long]): Array[Int] = {
    val picks = new Array[Int](math.min(k, xSize + ySize))
    var i = 0; var j = 0; var n = 0
    while (n < picks.length) {
      if (j >= ySize || (i < xSize && before(xv(i), xi(i), yv(j), yi(j)))) {
        picks(n) = i; i += 1
      } else { picks(n) = ~j; j += 1 }
      n += 1
    }
    picks
  }

  /** (id, value) rows → the k largest by (value DESC, id ASC). */
  case class TopK(k: Int) extends Aggregator[(Long, Double), HeapBuf, Buf] {
    require(k >= 1, s"top-k needs k >= 1, got $k")

    override def zero: HeapBuf =
      HeapBuf(0, new Array[Double](k), new Array[Long](k))

    override def reduce(b: HeapBuf, a: (Long, Double)): HeapBuf = {
      val i = slot(k, b.size, b.values, b.ids, a._2, a._1)
      if (i >= 0) {
        val keep = math.min(b.size, k - 1)
        shift(b.values, i, keep)
        shift(b.ids, i, keep)
        b.values(i) = a._2
        b.ids(i) = a._1
        b.size = math.min(b.size + 1, k)
      }
      b
    }

    override def merge(x: HeapBuf, y: HeapBuf): HeapBuf =
      if (y.size == 0) x
      else if (x.size == 0) y
      else {
        val picks = mergePicks(k, x.size, x.values, x.ids, y.size, y.values, y.ids)
        val out = zero
        for (n <- picks.indices) {
          val p = picks(n)
          out.values(n) = if (p >= 0) x.values(p) else y.values(~p)
          out.ids(n) = if (p >= 0) x.ids(p) else y.ids(~p)
        }
        out.size = picks.length
        out
      }

    override def finish(b: HeapBuf): Buf =
      Buf((0 until b.size).map(i => Entry(b.values(i), b.ids(i))))

    override def bufferEncoder: Encoder[HeapBuf] = Encoders.product[HeapBuf]
    override def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
  }

  case class VecEntry(value: Double, id: Long, vec: Array[Float])
  case class VecBuf(probe: Array[Float], items: Seq[VecEntry])

  /** [[HeapBuf]] plus each live entry's vector and the group's probe
    * vector (null until the first row).
    */
  case class VecHeapBuf(var size: Int, values: Array[Double], ids: Array[Long],
      vecs: Array[Array[Float]], var probe: Array[Float])

  /** (id, value, vec, probe) rows → the k largest by (value DESC, id ASC)
    * with their vectors, plus the probe vector every row of a group
    * carries: the candidate pool of an ANN search, kept together with
    * what its exact rerank needs, so the rerank is a projection over
    * the aggregate's output instead of a join back to the vectors. Same
    * order, gate and map-side merge as [[TopK]].
    */
  case class TopKVec(k: Int)
      extends Aggregator[(Long, Double, Array[Float], Array[Float]), VecHeapBuf, VecBuf] {
    require(k >= 1, s"top-k needs k >= 1, got $k")

    override def zero: VecHeapBuf = VecHeapBuf(0, new Array[Double](k),
      new Array[Long](k), new Array[Array[Float]](k), null)

    override def reduce(b: VecHeapBuf,
        a: (Long, Double, Array[Float], Array[Float])): VecHeapBuf = {
      if (b.probe == null) b.probe = a._4
      val i = slot(k, b.size, b.values, b.ids, a._2, a._1)
      if (i >= 0) {
        val keep = math.min(b.size, k - 1)
        shift(b.values, i, keep)
        shift(b.ids, i, keep)
        shift(b.vecs, i, keep)
        b.values(i) = a._2
        b.ids(i) = a._1
        b.vecs(i) = a._3
        b.size = math.min(b.size + 1, k)
      }
      b
    }

    override def merge(x: VecHeapBuf, y: VecHeapBuf): VecHeapBuf =
      if (y.size == 0) x // an empty buffer has seen no row, so no probe either
      else if (x.size == 0) y
      else {
        val picks = mergePicks(k, x.size, x.values, x.ids, y.size, y.values, y.ids)
        val out = zero
        for (n <- picks.indices) {
          val p = picks(n)
          out.values(n) = if (p >= 0) x.values(p) else y.values(~p)
          out.ids(n) = if (p >= 0) x.ids(p) else y.ids(~p)
          out.vecs(n) = if (p >= 0) x.vecs(p) else y.vecs(~p)
        }
        out.size = picks.length
        out.probe = x.probe
        out
      }

    override def finish(b: VecHeapBuf): VecBuf =
      VecBuf(b.probe, (0 until b.size).map(i => VecEntry(b.values(i), b.ids(i), b.vecs(i))))

    override def bufferEncoder: Encoder[VecHeapBuf] = Encoders.product[VecHeapBuf]
    override def outputEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
  }
}
