package lambdabench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** The traced run's outputs: every span as one JSON line (`spans.jsonl`)
  * and the per-layer rollup (`rollup.json`, flat `<module>.<call>.<metric>`
  * names).
  *
  * Every value is per call or per request, so it does not grow with the
  * number of calls that fit into the window. Per layer call (span name),
  * over the measured window only (set-up and warm-up requests excluded):
  *  - `calls` (the one count over the window), and per call: `busy_s`
  *    (span time), `self_s` (span time minus the part its child spans
  *    cover), `p50_ms` (median call);
  *  - per-call means of the Spark work its subtree submitted: `jobs`,
  *    `stages`, `tasks`, `shuffle_bytes`, `output_bytes`,
  *    `executor_run_s`, `executor_cpu_s`, `gc_s`, `task_wait_s` and
  *    `driver_only_s` (span time with no job of its subtree running), and
  *    of the benchmark-side `files` / `bytes` the call's store gained.
  * `spark.*` is the same per primary request (a workload's cycle, fold or
  * pass, whose span name the caller gives). Counters a workload set
  * directly (`Layer.set`/`Layer.add`) are copied, those in [[PerCall]]
  * divided by their layer's calls.
  */
object Rollup {
  /** Benchmark-side counters reported as per-call means, not totals. */
  private val PerCall = Set("files", "bytes", "exchanges", "edges", "route_local", "runs")

  def write(ctx: Ctx, wallS: Double, primary: String): Unit = {
    val t = ctx.trace
    ctx.cpu.drain()
    val spans = t.allSpans
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val kids = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => subtree(s.id))

    val w = new PrintWriter(new File(ctx.work, "spans.jsonl"))
    try spans.foreach { s =>
      w.println(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "thread" -> s.thread,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6))
    } finally w.close()

    val measured = spans.filter(s => Layer.measured(s.request))
    val out = mutable.LinkedHashMap.empty[String, Double]
    def durS(s: Span) = (s.end - s.start) / 1e9
    def selfS(s: Span) = {
      val childIv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      (s.end - s.start - Trace.covered(childIv, s.start, s.end)) / 1e9
    }
    def driverOnlyS(ss: Seq[Span]): Double = ss.map { s =>
      val jobs = t.jobWindows(Some(subtree(s.id).toSet))
      val lo = t.wallMs(s.start)
      val hi = t.wallMs(s.end)
      math.max(0L, hi - lo - Trace.covered(jobs, lo, hi)) / 1e3
    }.sum
    def work(prefix: String, ss: Seq[Span]): Unit = {
      val c = t.sum(ss.flatMap(s => subtree(s.id)).toSet)
      val n = math.max(ss.size, 1).toDouble
      out(s"$prefix.jobs") = c.jobs / n
      out(s"$prefix.stages") = c.stages / n
      out(s"$prefix.tasks") = c.tasks / n
      out(s"$prefix.shuffle_bytes") = (c.shuffleReadBytes + c.shuffleWriteBytes) / n
      out(s"$prefix.shuffle_read_bytes") = c.shuffleReadBytes / n
      out(s"$prefix.shuffle_write_bytes") = c.shuffleWriteBytes / n
      out(s"$prefix.spill_bytes") = c.spillBytes / n
      out(s"$prefix.output_bytes") = c.outputBytes / n
      out(s"$prefix.executor_run_s") = c.executorRunMs / 1e3 / n
      out(s"$prefix.executor_cpu_s") = c.executorCpuNs / 1e9 / n
      out(s"$prefix.gc_s") = c.gcMs / 1e3 / n
      out(s"$prefix.task_wait_s") = c.taskWaitMs / 1e3 / n
      out(s"$prefix.driver_only_s") = driverOnlyS(ss) / n
    }
    measured.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      out(s"$name.calls") = ss.size
      out(s"$name.busy_s") = ss.map(durS).sum / ss.size
      out(s"$name.self_s") = ss.map(selfS).sum / ss.size
      out(s"$name.p50_ms") = Stats.median(ss.map(durS)) * 1000
      work(name, ss)
    }
    Layer.counters.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val calls = out.get(k.substring(0, k.lastIndexOf('.')) + ".calls")
      val perCall = PerCall.contains(k.substring(k.lastIndexOf('.') + 1))
      out(k) = if (perCall) v / calls.getOrElse(1.0) else v
    }

    // bytes a compaction rewrote per maintain call that actually ran
    // (`runs` is the share of maintain calls that ran)
    out.keys.filter(_.endsWith(".maintain.calls")).toSeq.foreach { k =>
      val name = k.stripSuffix(".calls")
      val runs = out.getOrElse(s"$name.runs", 0.0)
      out(s"$name.runs") = runs
      out(s"$name.bytes_rewritten") = if (runs > 0) out(s"$name.output_bytes") / runs else 0.0
    }

    // Spark work per primary request (cycle, fold or pass)
    val requests = measured.filter(s => s.parent == 0L && s.name == primary)
    require(requests.nonEmpty, s"no measured $primary request")
    work("spark", requests)
    out("spark.requests") = requests.size
    out("spark.unattributed_jobs") = t.counters(0L).jobs
    out("run.wall_s") = wallS

    val rw = new PrintWriter(new File(ctx.work, "rollup.json"))
    try rw.println(Json.obj(out.toSeq: _*)) finally rw.close()
  }
}
