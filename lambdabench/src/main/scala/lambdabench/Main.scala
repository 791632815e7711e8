package lambdabench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload reports: end-to-end metrics (name -> value, unit), the
  * named correctness checks, and the operation counts.
  */
final class Report(startNanos: Long) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  /** Extra facts the rollup or the Python-side checks need (JSON values). */
  val facts = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks(name) = (ok, detail)
    if (!ok) System.err.println(s"[lambdabench] check FAILED: $name: $detail")
  }
  def fact(name: String, json: String): Unit = facts(name) = json

  /** Seconds per run phase (set-up, warm-up, window, checks), each
    * closed by [[mark]]: where a run's wall time goes.
    */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private var lastMark = startNanos
  def mark(phase: String): Unit = {
    val now = System.nanoTime()
    phases(phase) = (now - lastMark) / 1e9
    lastMark = now
  }
}

/** Everything a workload needs: the session, the tracer, the CPU meter,
  * the generated inputs under `input`, a scratch area under `work`, and
  * the time budget.
  */
final case class Ctx(spark: SparkSession, trace: Trace, cpu: CpuMeter, input: String,
    work: String, seconds: Double, report: Report) {
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** Entry point: `lambdabench.Main --workload W --input DIR --work DIR
  * --seconds S --trace 0|1`. Runs one workload in this JVM and writes
  * `result.json` (and with tracing on `spans.jsonl` and `rollup.json`)
  * under the work dir. Inputs are generated beforehand by gen.py.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmT0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.getOrElse("cpus", "4")
    val spark = graft.Sessions.base(s"local[$cpus]", cpus)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      // the engine's documented setting for sessions serving small IVF-PQ
      // indexes (see graft.Engine)
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      // the status store keeps only the latest jobs, stages and queries, so
      // the retained heap does not grow with the number of calls a run made
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report(jvmT0)
    val trace = new Trace(traceOn, spark.sparkContext)
    val ctx = Ctx(spark, trace, new CpuMeter(spark.sparkContext), opts("input"), work,
      opts("seconds").toDouble, report)
    val disk0 = graft.Canary.diskSnapshot()
    val t0 = System.nanoTime()
    report.mark("session")
    var error: Option[Throwable] = None
    try workload match {
      case "batch_recompute" => BatchRecompute.run(ctx)
      case "speed_serve" => SpeedServe.run(ctx)
      case "corpus_dedup" => CorpusDedup.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } catch { case e: Throwable => error = Some(e); e.printStackTrace() }
    val wallS = (System.nanoTime() - t0) / 1e9
    report.mark("checks")
    val disk1 = graft.Canary.diskSnapshot()
    report.metric("retained_heap_mb", Heap.retainedMb(), "MB")
    // the span of one unit of each workload's main loop
    val primary = Map("batch_recompute" -> "cycle", "speed_serve" -> "fold",
      "corpus_dedup" -> "pass")
    if (traceOn && error.isEmpty) Rollup.write(ctx, wallS, primary(workload))
    // host covariates: not metrics, but they let a slow run be blamed on
    // the host band rather than the code
    val (cpuS, fsS, spillS, stateS) =
      graft.Canary.probe(new File(work, "canary"), reps = 1)
    val diskJson = (disk0, disk1) match {
      case (Some(a), Some(b)) =>
        val d = b - a
        s"""{"io_ms":${d.ioMs},"write_ms":${d.writeMs},"writes":${d.writes},""" +
          s""""flush_ms":${d.flushMs},"flushes":${d.flushes}}"""
      case _ => "null"
    }
    report.fact("host", s"""{"canary":{"cpu_s":$cpuS,"fs_s":$fsS,"spill_s":$spillS,""" +
      s""""state_s":$stateS},"diskstats_delta":$diskJson,"run_wall_s":$wallS}""")
    report.mark("heap_rollup_canary")
    report.fact("phases", Json.obj(report.phases.toSeq: _*))
    writeResult(new File(work, "result.json"), report, error)
    spark.stop()
    System.exit(if (error.isEmpty) 0 else 1)
  }

  private def writeResult(f: File, r: Report, error: Option[Throwable]): Unit = {
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString(",")
    val checks = r.checks.map { case (k, (ok, d)) =>
      s""""$k":{"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString(",")
    val facts = r.facts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val err = error.map(e => Json.str(e.toString)).getOrElse("null")
    val w = new PrintWriter(f)
    try w.println(s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{$metrics},"checks":{$checks},"facts":{$facts},"error":$err}""")
    finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def arr(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")

  /** A JSON object; (value, unit) pairs render as {"value":…,"unit":…}. */
  def obj(fields: (String, Any)*): String = fields.map {
    case (k, (v: Double, u: String)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    case (k, v: Double) => s"${str(k)}:${num(v)}"
    case (k, v: Long) => s"${str(k)}:$v"
    case (k, v: String) => s"${str(k)}:${str(v)}"
    case (k, v) => sys.error(s"unsupported JSON field $k -> $v")
  }.mkString("{", ",", "}")
}

object Heap {
  /** Heap in use after a forced full GC, in MB. */
  def retainedMb(): Double = {
    val rt = Runtime.getRuntime
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

/** Latency statistics over samples in seconds. */
object Stats {
  /** Nearest-rank quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Time `body`, returning (result, seconds). */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
