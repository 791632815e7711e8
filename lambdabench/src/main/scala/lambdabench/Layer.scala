package lambdabench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Calls into an engine layer. With tracing on, each call is a span and
  * may add benchmark-side counters (files and bytes a store gained, CC
  * edge counts); with tracing off it only runs the call.
  */
object Layer {
  private val counts = new ConcurrentHashMap[String, java.lang.Double]()

  /** Add `v` to the counter `<name>.<metric>` (traced runs only). */
  def add(name: String, metric: String, v: Double): Unit =
    counts.merge(s"$name.$metric", v, (a, b) => a + b)

  /** Set `<name>.<metric>` to a final value (traced runs only). */
  def set(name: String, metric: String, v: Double): Unit =
    counts.put(s"$name.$metric", v)

  /** Set-up and warm-up requests are not part of the measured window. */
  def measured(request: String): Boolean =
    !request.startsWith("setup") && !request.startsWith("warmup")

  def counters: Map[String, Double] = counts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  /** Run `body` as the layer call `name`; when `store` is given, traced
    * runs also count the files and bytes it gained over the call.
    */
  def call[T](ctx: Ctx, name: String, store: Option[String])(body: => T): T =
    if (!ctx.trace.enabled) body
    else {
      val before = store.map(DirStat.of)
      val out = ctx.trace.span(name)(body)
      if (measured(ctx.trace.currentRequest)) for (b <- before; d <- store) {
        val a = DirStat.of(d)
        add(name, "files", a.files - b.files)
        add(name, "bytes", a.bytes - b.bytes)
      }
      out
    }

  /** Count the deduplicated bidirectional edges `GraphOps.connectedComponents`
    * will see, and which side of `graft.cc.localMaxEdges` that puts the
    * call on (1 = driver-local union-find, 0 = distributed loop; string
    * node ids always take the loop). The counting jobs run untracked; the
    * result is added once for each of `calls` CC calls over these edges.
    */
  def ccEdges(ctx: Ctx, edges: DataFrame, calls: Int): Unit = ctx.trace.untracked {
    val n = edges
      .select(explode(array(struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .where(col("e.s") =!= col("e.d")).distinct().count()
    val localMax = ctx.spark.conf.get("graft.cc.localMaxEdges", "100000").toLong
    // the local route also needs long-typed node ids
    val longIds = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    add("operators.GraphOps.cc", "edges", n.toDouble * calls)
    add("operators.GraphOps.cc", "route_local", if (n <= localMax && longIds) calls else 0.0)
  }
}

/** Data files (and their bytes) under a directory tree, skipping hidden
  * and marker files (`.crc`, `_SUCCESS`).
  */
final case class DirStat(files: Long, bytes: Long)

object DirStat {
  def of(path: String): DirStat = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        files += 1; bytes += f.length()
      }
    walk(new File(path))
    DirStat(files, bytes)
  }

  /** Distinct `seq=` partition values anywhere under `path`. */
  def levels(path: String): Int = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    def walk(f: File): Unit = if (f.isDirectory) {
      if (f.getName.startsWith("seq=")) seen += f.getName
      Option(f.listFiles()).foreach(_.foreach(walk))
    }
    walk(new File(path))
    seen.size
  }
}

/** The generator's plan.json. */
final class Plan(root: JsonNode) {
  def int(k: String): Int = root.get(k).asInt()
  def double(k: String): Double = root.get(k).asDouble()
  def ints(k: String): Seq[Int] = root.get(k).elements().asScala.map(_.asInt()).toSeq
}

object Plan {
  def read(path: String): Plan = new Plan(new ObjectMapper().readTree(new File(path)))
}
