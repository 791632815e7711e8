package lambdabench

import scala.collection.mutable

import graft.functions.{TimeFunctions, UrlFunctions}
import graft.model.{Fact, FactKind, FactStore}
import graft.operators.{GraphOps, Sessionize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `batch_recompute`: the batch layer alone. Each cycle ingests a new
  * events slice (pageview and equiv facts) plus one re-delivered slice
  * into the master store, then recomputes every batch view: over the
  * whole master, scanKind -> URL normalize -> deduplicate, connected
  * components over the equiv graph, pageviews and uniques per
  * hour/day/week/month and bounce rate per domain; over the document
  * corpus, the dedup pass of [[Corpus]]. No serving store is touched.
  *
  * Inputs (gen.py): `initial/events.parquet` seeds the master,
  * `slices/<k>/events.parquet` are the cycle slices, `plan.json` lists
  * the slice each cycle ingests and the one it re-delivers.
  */
object BatchRecompute {

  final case class Cycle(slice: Int, redeliver: Int)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val plan = Plan.read(ctx.input + "/plan.json")
    val cycles = plan.ints("cycle_slices").zip(plan.ints("redeliver")).map {
      case (s, d) => Cycle(s, d)
    }
    val setupReps = plan.int("setup_reps")
    def slice(k: Int) = s"${ctx.input}/slices/$k"
    val initial = ctx.input + "/initial"

    val corpus = new Corpus(ctx, plan)
    // set-up: a fresh master holding the initial slices and the corpus
    // loaded into the cache, several times
    val setups = (1 to setupReps).map { i =>
      ctx.cpu.measure(s"setup-$i")(ctx.trace.span("setup", s"setup-$i") {
        ingest(ctx, FactStore.eventsAsFacts(spark, initial)
          .unionAll(FactStore.equivFactsFromEvents(spark, initial)), master = ctx.dir(s"master$i"))
        corpus.load()
      })._2
    }
    val master = ctx.work + s"/master$setupReps"
    val views = ctx.dir("views")
    r.mark("setup")
    // an untimed recompute over a one-slice master and a corpus file, so
    // JIT and codegen caches are warm before the window
    val warm = ctx.dir("warm-master")
    FactStore.ingest(FactStore.eventsAsFacts(spark, slice(0))
      .unionAll(FactStore.equivFactsFromEvents(spark, slice(0))), warm)
    recompute(ctx, warm, ctx.dir("warm-views"), "warmup")
    corpus.warmup()
    r.mark("warmup")

    val ingestS = mutable.ArrayBuffer.empty[Double]
    val viewsS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val facts = mutable.ArrayBuffer.empty[Long]
    var done = 0
    // cycles until the deadline, and at least `min_cycles`; the metrics
    // cover the first `min_cycles`, so every run's figures rest on the
    // same cycles over the same master sizes
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val minCycles = plan.int("min_cycles")
    while ((System.nanoTime() < deadline || done < minCycles) && done < cycles.size) {
      val c = cycles(done)
      val req = s"cycle-$done"
      ctx.trace.span("cycle", req) {
        // one ingest sample per cycle: the new slice plus the re-delivery
        ingestS += ctx.cpu.measure(s"ingest-$done") {
          ingest(ctx, FactStore.eventsAsFacts(spark, slice(c.slice))
            .unionAll(FactStore.equivFactsFromEvents(spark, slice(c.slice))), master)
          ingest(ctx, FactStore.eventsAsFacts(spark, slice(c.redeliver)), master)
        }._2
        r.attempted += 2
        viewsS += ctx.cpu.measure(s"views-$done")(recompute(ctx, master, views, req))._2
        passS += Stats.timed(corpus.pass(req))._2
        r.attempted += 2
      }
      // the CC edge count of this cycle's master, outside the cycle's span
      if (ctx.trace.enabled) Layer.ccEdges(ctx, equivEdges(spark, master), calls = 1)
      facts += masterFacts(spark, master)
      done += 1
    }
    r.mark("window")
    require(done >= minCycles, s"only $done of $minCycles cycles finished")
    ctx.cpu.drain()
    val m = minCycles
    def cpu(op: String) = (0 until m).map(i => ctx.cpu.cpuS(s"$op-$i"))
    val (ingestCpu, viewsCpu) = (cpu("ingest"), cpu("views"))
    val passCpu = (0 until m).map(i => CorpusDedup.passCpuS(ctx, s"cycle-$i"))
    val recomputeCpu = viewsCpu.zip(passCpu).map { case (a, b) => a + b }
    val setupCpu = (1 to setupReps).map(i => ctx.cpu.cpuS(s"setup-$i"))
    r.metric("setup_s", Stats.median(setupCpu), "s")
    r.metric("op_cpu_s", Stats.median(recomputeCpu), "s")
    r.metric("step_cpu_ms", Stats.median(ingestCpu) * 1000, "ms")
    val recomputeS = viewsS.take(m).zip(passS.take(m)).map { case (a, b) => a + b }
    // records the recompute read: master facts plus corpus documents
    val factsScanned = facts.take(m).sum
    val docs = corpus.nDocs * m
    val recall = corpus.finish()
    r.fact("table", Json.obj(
      "ingest_p50_s" -> (Stats.median(ingestS.take(m).toSeq), "s"),
      "recompute_p50_s" -> (Stats.median(recomputeS.toSeq), "s"),
      "views_p50_s" -> (Stats.median(viewsS.take(m).toSeq), "s"),
      "batch_facts_per_s" -> (factsScanned / viewsS.take(m).sum, "1/s"),
      "dedup_pass_p50_s" -> (Stats.median(passS.take(m).toSeq), "s"),
      "dedup_docs_per_s" -> (docs / passS.take(m).sum, "1/s"),
      "dedup_planted_recall" -> (recall, "ratio"),
      "recompute_items_per_s" -> ((factsScanned + docs) / recomputeS.sum, "1/s"),
      "ingest_cpu_p50_s" -> (Stats.median(ingestCpu), "s"),
      "views_cpu_p50_s" -> (Stats.median(viewsCpu), "s"),
      "dedup_pass_cpu_p50_s" -> (Stats.median(passCpu), "s"),
      "setup_wall_p50_s" -> (Stats.median(setups), "s"),
      "cycles_measured" -> (m.toDouble, "count"),
      "cycles" -> (done.toDouble, "count")))
    // every measured sample, in cycle order (CPU, then wall seconds)
    r.fact("samples", s"""{"ingest_cpu_s":${Json.arr(ingestCpu)},""" +
      s""""views_cpu_s":${Json.arr(viewsCpu)},"pass_cpu_s":${Json.arr(passCpu)},""" +
      s""""setup_cpu_s":${Json.arr(setupCpu)},"ingest_s":${Json.arr(ingestS.toSeq)},""" +
      s""""views_s":${Json.arr(viewsS.toSeq)},"pass_s":${Json.arr(passS.toSeq)}}""")
    // the Python side evaluates the oracles over exactly the slices ingested
    r.fact("ingested_slices", cycles.take(done).map(_.slice).mkString("[", ",", "]"))
    r.fact("oracles", Json.obj(
      "batch_workflow" -> graft.SparkEntry.oracleSql("batch_workflow"),
      "bounce_rate_view" -> graft.SparkEntry.oracleSql("bounce_rate_view")))
    r.fact("views", Json.str(views))
    r.fact("cc_local_max_edges",
      spark.conf.get("graft.cc.localMaxEdges", "100000"))
    checkRollups(ctx, views)
  }

  private def ingest(ctx: Ctx, facts: org.apache.spark.sql.Dataset[Fact],
      master: String): Unit =
    Layer.call(ctx, "model.FactStore.ingest", Some(master)) {
      FactStore.ingest(facts, master)
    }

  /** The person graph: one edge per equiv fact in the master. */
  private def equivEdges(spark: SparkSession, master: String): DataFrame =
    FactStore.scanKind(spark, master, FactKind.Equiv)
      .select(GraphOps.personKey(col("equiv.id1")).as("src"),
        GraphOps.personKey(col("equiv.id2")).as("dst"))

  /** Facts in the master right now, from parquet footers (no Spark job). */
  private def masterFacts(spark: SparkSession, master: String): Long =
    Seq(FactKind.PageView, FactKind.Equiv).map { k =>
      graft.model.RowEst.dirRowsExact(spark, s"$master/kind=$k").getOrElse(0L)
    }.sum

  /** The full batch recompute: normalized unique pageviews, the person
    * graph's connected components, then every view, each written to
    * `views/<name>` (overwriting the previous cycle's).
    */
  private def recompute(ctx: Ctx, master: String, views: String, req: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.trace.span("recompute", if (req == "warmup") req else "") {
      val uniquePath = views + "/unique_pageviews"
      Layer.call(ctx, "model.FactStore.scanKind", None) {
        val normalized = FactStore.scanKind(spark, master, FactKind.PageView)
          // the raw URL's authority keys the bounce view
          .withColumn("domain", UrlFunctions.extractDomain(col("pageView.page.url")))
          .withColumn("pageView", col("pageView").withField("page",
            struct(UrlFunctions.normalizeUrl(col("pageView.page.url")).as("url"))))
          .as[Fact]
        FactStore.deduplicate(normalized).toDF()
          .select(GraphOps.personKey(col("pageView.person")).as("node"),
            col("pageView.person.userId").as("user_id"),
            col("pageView.page.url").as("url"), col("domain"),
            col("pedigree.trueAsOfSecs").as("ts_secs"),
            col("pageView.nonce").as("event_id"))
          .write.mode("overwrite").parquet(uniquePath)
      }
      val labels = Layer.call(ctx, "operators.GraphOps.cc", None) {
        GraphOps.connectedComponents(equivEdges(spark, master))
      }
      Layer.call(ctx, "operators.BatchViews.recompute", None) {
        val pv = spark.read.parquet(uniquePath)
        val persons = pv.join(labels, Seq("node"), "left_outer")
          .select(coalesce(col("label"), col("node")).as("person"), col("url"),
            col("ts_secs"), TimeFunctions.hourBucket(col("ts_secs")).as("hbv"))
        persons.groupBy("url", "hbv")
          .agg(count(lit(1)).as("pageviews"), countDistinct(col("person")).as("uniques"))
          .write.mode("overwrite").parquet(views + "/url_hour")
        // day/week/month from the same person-resolved pageviews
        persons
          .select(col("url"), col("person"),
            TimeFunctions.granularities(col("hbv")).as("gb"))
          .groupBy(col("url"), col("gb.g").as("g"), col("gb.bucket").as("bucket"))
          .agg(count(lit(1)).as("pageviews"), countDistinct(col("person")).as("uniques"))
          .write.mode("overwrite").parquet(views + "/granularity")
        Sessionize.sessions(pv.select("domain", "user_id", "ts_secs", "event_id"),
            Seq("domain", "user_id"), col("ts_secs"), col("event_id"))
          .groupBy("domain")
          .agg(count(lit(1)).as("visits"),
            sum(when(col("n_pageviews") === 1, 1).otherwise(0)).cast("long").as("bounces"))
          .write.mode("overwrite").parquet(views + "/bounce")
      }
    }
  }

  /** The coarser views must roll up from the hourly one: each (url, hour)
    * pageview count equals the `g = 'h'` row of the granularity view, and
    * each day's pageviews are the sum of its hours.
    */
  private def checkRollups(ctx: Ctx, views: String): Unit = {
    val spark = ctx.spark
    val hourly = spark.read.parquet(views + "/url_hour")
    val gran = spark.read.parquet(views + "/granularity")
    val hourRows = gran.where(col("g") === "h")
      .select(col("url"), col("bucket").as("hbv"), col("pageviews"), col("uniques"))
    val hourDiff = hourly.select("url", "hbv", "pageviews", "uniques")
      .exceptAll(hourRows).count() + hourRows.exceptAll(
        hourly.select("url", "hbv", "pageviews", "uniques")).count()
    ctx.report.check("views.hour_granularity_matches_url_hour", hourDiff == 0,
      s"$hourDiff differing rows")
    val dayFromHours = hourly
      .groupBy(col("url"), floor(col("hbv") / 24).cast("long").as("bucket"))
      .agg(sum("pageviews").as("pageviews"))
    val days = gran.where(col("g") === "d").select(col("url"),
      col("bucket").cast("long").as("bucket"), col("pageviews"))
    val dayDiff = dayFromHours.exceptAll(days).count() + days.exceptAll(dayFromHours).count()
    ctx.report.check("views.day_is_sum_of_hours", dayDiff == 0, s"$dayDiff differing rows")
  }
}
