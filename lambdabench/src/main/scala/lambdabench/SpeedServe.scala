package lambdabench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.{TimeFunctions, UrlFunctions}
import graft.model.ServingPointer
import graft.operators.{LexIndex, ShingleStore, VectorIndex}
import graft.streaming.UpsertStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `speed_serve`: the speed and serving layers under live reads.
  *
  * One fold thread runs back-to-back micro-batches; a fold commits one
  * batch to all four stores, each followed by its `maintain`:
  * pageviews per (url, hour) into an UpsertStore (the fold thread keeps
  * the running totals, so late events update earlier hours), documents
  * into the served
  * LexIndex version (through ServingPointer) and the ShingleStore, and
  * vectors into the IVF-PQ VectorIndex. Once per run, before the
  * measured window, the batch layer rebuilds the LexIndex from every
  * document so far into a fresh version and flips the pointer; the
  * folds then append into the new version.
  *
  * Alongside, an open-loop reader issues `read_rate` reads per second
  * (UpsertStore.lookup skewed to recent hours, LexIndex.bm25TopK via
  * ServingPointer.resolve, VectorIndex.searchIvfPq) on `reader_threads`
  * worker threads, for as long as folds run. Latency counts from when a
  * read was due.
  */
object SpeedServe {
  private val Keys = Seq("url", "hbv")
  private val CountSchema = StructType(Seq(StructField("url", StringType),
    StructField("hbv", LongType), StructField("pageviews", LongType)))

  final class Stores(root: String) {
    val upsert = root + "/upsert"
    val lex = root + "/lex"
    val shingle = root + "/shingle"
    val vec = root + "/vec"
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val plan = Plan.read(ctx.input + "/plan.json")
    val in = ctx.input
    val nBatches = plan.int("batches")
    val docSchema = spark.read.parquet(s"$in/initial/docs.parquet").schema
    val embSchema = spark.read.parquet(s"$in/initial/emb.parquet").schema
    def batchDocs(i: Int) = spark.read.schema(docSchema).parquet(s"$in/stream/$i/docs.parquet")
    def batchEmb(i: Int) = spark.read.schema(embSchema).parquet(s"$in/stream/$i/emb.parquet")
    val embAll = spark.read.schema(embSchema).parquet(s"$in/emb_all.parquet")

    // set-up: all four stores bootstrapped from the initial data, in
    // fresh dirs, several times
    val setups = (1 to plan.int("setup_reps")).map { i =>
      val st = new Stores(ctx.dir(s"stores$i"))
      ctx.cpu.measure(s"setup-$i")(ctx.trace.span("setup", s"setup-$i") {
        val counts = pageviewCounts(spark, s"$in/initial")
        Layer.call(ctx, "streaming.UpsertStore.fold", None) {
          UpsertStore.fold(spark, st.upsert, counts, Keys, seq = 0L)
        }
        val docs = spark.read.parquet(s"$in/initial/docs.parquet")
        val v = Layer.call(ctx, "model.ServingPointer.stage", None) {
          ServingPointer.stage(spark, st.lex)(LexIndex.build(spark, docs, _))
        }
        Layer.call(ctx, "model.ServingPointer.flip", None)(ServingPointer.flip(spark, st.lex, v))
        Layer.call(ctx, "operators.ShingleStore.build", None)(ShingleStore.build(spark, docs, st.shingle))
        Layer.call(ctx, "operators.VectorIndex.buildIvfPq", None) {
          VectorIndex.buildIvfPq(spark, spark.read.parquet(s"$in/initial/emb.parquet"), st.vec)
        }
      })._2
    }
    val st = new Stores(ctx.work + s"/stores${setups.size}")

    // the speed layer's running pageview totals per (url, hour)
    val totals = mutable.HashMap.empty[(String, Long), Long]
    pageviewCounts(spark, s"$in/initial").collect()
      .foreach(c => totals((c.getString(0), c.getLong(1))) = c.getLong(2))
    val batchLastHour = plan.ints("batch_last_hour")
    val latestHour = new AtomicLong(plan.int("initial_last_hour").toLong)
    val folded = new AtomicLong(0) // batches committed so far
    val reads = Reads.load(ctx)

    def fold(i: Int, req: String): Double = ctx.cpu.measure(req)(ctx.trace.span("fold", req) {
      val bdir = s"$in/stream/$i"
      // this batch's counts added to the running totals of its keys
      val merged = ctx.trace.span("speed.upsert.merge") {
        val rows = pageviewCounts(spark, bdir).collect().map { c =>
          val k = (c.getString(0), c.getLong(1))
          totals(k) = totals.getOrElse(k, 0L) + c.getLong(2)
          Row(k._1, k._2, totals(k))
        }
        spark.createDataFrame(rows.toSeq.asJava, CountSchema)
      }
      Layer.call(ctx, "streaming.UpsertStore.fold", Some(st.upsert)) {
        UpsertStore.fold(spark, st.upsert, merged, Keys, seq = i + 1L)
      }
      maintained(ctx, "streaming.UpsertStore.maintain",
        UpsertStore.maintain(spark, st.upsert, Keys))
      val docs = batchDocs(i)
      val served = Layer.call(ctx, "model.ServingPointer.resolve", None) {
        ServingPointer.resolve(spark, st.lex).get
      }
      Layer.call(ctx, "operators.LexIndex.append", Some(served)) {
        LexIndex.append(spark, docs, served, batchId = i)
      }
      maintained(ctx, "operators.LexIndex.maintain", LexIndex.maintain(spark, served))
      Layer.call(ctx, "operators.ShingleStore.append", Some(st.shingle)) {
        ShingleStore.append(spark, docs, st.shingle, batchId = i)
      }
      maintained(ctx, "operators.ShingleStore.maintain", ShingleStore.maintain(spark, st.shingle))
      Layer.call(ctx, "operators.VectorIndex.appendIvfPq", Some(st.vec)) {
        VectorIndex.appendIvfPq(spark, batchEmb(i), st.vec, batchId = i)
      }
      maintained(ctx, "operators.VectorIndex.maintain", VectorIndex.maintain(spark, st.vec))
      latestHour.set(math.max(latestHour.get, batchLastHour(i).toLong))
      folded.set(i + 1L)
    })._2

    // the batch layer's handoff: rebuild from the documents so far into a
    // fresh version while the old one serves, then flip
    def rebuild(): Double = Stats.timed(ctx.trace.span("rebuild", "rebuild") {
      val docs = spark.read.schema(docSchema).parquet(s"$in/initial/docs.parquet")
      val v = Layer.call(ctx, "model.ServingPointer.stage", None) {
        ServingPointer.stage(spark, st.lex)(LexIndex.build(spark, docs, _))
      }
      Layer.call(ctx, "model.ServingPointer.flip", None)(ServingPointer.flip(spark, st.lex, v))
      ServingPointer.dropSuperseded(spark, st.lex)
    })._2

    // warm-up: one read of each kind, side by side as in the window,
    // untimed (the set-ups have already run the fold's code paths: a
    // first fold takes no longer than later ones)
    r.mark("setup")
    val pool = Executors.newFixedThreadPool(plan.int("reader_threads"))
    reads.take(3).map(rd => pool.submit(new Runnable {
      def run(): Unit = Reads.exec(ctx, st, embAll, rd, latestHour.get, "warmup-read")
    })).foreach(_.get())
    val rebuildS = rebuild()

    r.mark("warmup")
    // measured window: folds until the deadline, and at least `min_folds`;
    // the fold metrics cover the first `min_folds`, so every run's figures
    // rest on the same folds over the same store states
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val minFolds = plan.int("min_folds")
    val foldS = mutable.ArrayBuffer.empty[Double]
    val foldErr = new AtomicReference[Throwable](null)
    val docsPerBatch = plan.ints("batch_docs")
    val folder = new Thread(() => {
      var i = 0
      try while ((System.nanoTime() < deadline || i < minFolds) && i < nBatches) {
        foldS += fold(i, s"fold-$i")
        i += 1
      } catch { case e: Throwable => foldErr.set(e); e.printStackTrace() }
    }, "lambdabench-fold")

    val rate = plan.double("read_rate")
    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    // (kind, operation id) of every read that succeeded
    val done = new ConcurrentLinkedQueue[(String, String)]()
    val waits = new ConcurrentLinkedQueue[Double]()
    // (start, end) of each read's service, System.nanoTime
    val service = new ConcurrentLinkedQueue[(Long, Long)]()
    val lateness = mutable.ArrayBuffer.empty[Double]
    val readFailures = new AtomicLong(0)
    val periodNs = (1e9 / rate).toLong
    val start = System.nanoTime()
    folder.start()
    var n = 0
    // reads keep coming until the last fold (started before the deadline)
    // ends, so every fold runs under the same read load
    while (folder.isAlive) {
      val due = start + n * periodNs
      val now = System.nanoTime()
      if (due > now) TimeUnit.NANOSECONDS.sleep(due - now)
      lateness += (System.nanoTime() - due) / 1e6
      val rd = reads(n % reads.size)
      val req = s"read-$n"
      pool.submit(new Runnable {
        def run(): Unit = {
          val began = System.nanoTime()
          waits.add((began - due) / 1e6)
          try {
            ctx.cpu.measure(req)(Reads.exec(ctx, st, embAll, rd, latestHour.get, req))
            val end = System.nanoTime()
            service.add((began, end))
            lat.add(rd.kind -> (end - due) / 1e6)
            done.add(rd.kind -> req)
          } catch {
            case e: Throwable =>
              readFailures.incrementAndGet()
              System.err.println(s"[lambdabench] read $req (${rd.kind}) failed: $e")
          }
        }
      })
      n += 1
    }
    folder.join()
    pool.shutdown()
    require(pool.awaitTermination(120, TimeUnit.SECONDS), "reads did not finish")
    r.mark("window")
    r.attempted += n + foldS.size * 4L
    r.failed += readFailures.get + (if (foldErr.get != null) 4 else 0)
    require(foldS.size >= minFolds, s"only ${foldS.size} of $minFolds folds finished")
    ctx.cpu.drain()
    val setupCpu = setups.indices.map(i => ctx.cpu.cpuS(s"setup-${i + 1}"))
    val foldCpu = (0 until minFolds).map(i => ctx.cpu.cpuS(s"fold-$i"))
    def kindCpu(k: String) = done.asScala.toSeq.collect { case (`k`, op) => ctx.cpu.cpuS(op) }
    def kindCpuMs(k: String) = {
      val xs = kindCpu(k)
      if (xs.isEmpty) Double.NaN else Stats.median(xs) * 1000
    }
    val readCpu = Seq("lookup", "bm25", "ann").map(kindCpuMs).filterNot(_.isNaN)
    r.metric("setup_s", Stats.median(setupCpu), "s")
    r.metric("op_cpu_s", Stats.median(foldCpu), "s")
    // each read kind's CPU p50, averaged over the kinds: the median of the
    // mixed sample would jump between kinds that differ 3x in cost
    r.metric("step_cpu_ms", readCpu.sum / readCpu.size, "ms")

    // every measured sample (CPU, then wall seconds; reads by kind)
    r.fact("samples", s"""{"fold_cpu_s":${Json.arr(foldCpu)},""" +
      s""""setup_cpu_s":${Json.arr(setupCpu)},"fold_s":${Json.arr(foldS.toSeq)},""" +
      Seq("lookup", "bm25", "ann").map(k => s""""${k}_cpu_s":${Json.arr(kindCpu(k))}""")
        .mkString(",") + "}")
    val latMs = lat.asScala.toSeq.map(_._2)
    // the reader's load: service seconds over the threads' time from the
    // first due read to the last read's end, and the capacity that implies
    val serviceS = service.asScala.toSeq.map { case (a, b) => (b - a) / 1e9 }
    val readerS = (service.asScala.map(_._2).max - start) / 1e9
    val threads = plan.int("reader_threads")
    val waitMs = waits.asScala.toSeq
    def kindP50(k: String) = {
      val xs = lat.asScala.toSeq.collect { case (`k`, v) => v }
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val folds = foldS.take(minFolds).toSeq
    val kinds = Seq("lookup", "bm25", "ann").map(kindP50).filterNot(_.isNaN)
    r.fact("table", Json.obj(
      "fold_p50_s" -> (Stats.median(folds), "s"),
      "fold_p75_s" -> (Stats.quantile(folds, 0.75), "s"),
      "folded_docs_per_s" -> (docsPerBatch.take(minFolds).sum / folds.sum, "1/s"),
      "read_p50_ms" -> (Stats.median(latMs), "ms"),
      "read_p90_ms" -> (Stats.quantile(latMs, 0.9), "ms"),
      "folds" -> (foldS.size.toDouble, "count"),
      "reads" -> (latMs.size.toDouble, "count"),
      "read_service_mean_ms" -> (serviceS.sum / serviceS.size * 1000, "ms"),
      "reader_capacity" -> (threads * serviceS.size / serviceS.sum, "1/s"),
      "reader_util" -> (serviceS.sum / (threads * readerS), "ratio"),
      "read_wait_p50_ms" -> (Stats.median(waitMs), "ms"),
      "read_wait_max_ms" -> (waitMs.max, "ms"),
      "read_lookup_p50_ms" -> (kindP50("lookup"), "ms"),
      "read_bm25_p50_ms" -> (kindP50("bm25"), "ms"),
      "read_ann_p50_ms" -> (kindP50("ann"), "ms"),
      "read_kinds_p50_ms" -> (kinds.sum / kinds.size, "ms"),
      "fold_cpu_p50_s" -> (Stats.median(foldCpu), "s"),
      "read_lookup_cpu_p50_ms" -> (kindCpuMs("lookup"), "ms"),
      "read_bm25_cpu_p50_ms" -> (kindCpuMs("bm25"), "ms"),
      "read_ann_cpu_p50_ms" -> (kindCpuMs("ann"), "ms"),
      "setup_wall_p50_s" -> (Stats.median(setups), "s"),
      "folds_measured" -> (minFolds.toDouble, "count"),
      "rebuild_s" -> (rebuildS, "s"),
      "read_rate" -> (rate, "1/s"),
      "generator_late_p50_ms" -> (Stats.median(lateness.toSeq), "ms"),
      "generator_late_max_ms" -> (lateness.max, "ms")))
    if (ctx.trace.enabled) {
      Layer.set("reader.read", "wait_ms", Stats.median(waitMs))
      Layer.set("reader", "generator_late_ms", Stats.median(lateness.toSeq))
      Layer.set("operators.LexIndex", "levels_end",
        DirStat.levels(ServingPointer.resolve(spark, st.lex).get + "/postings"))
      Layer.set("operators.VectorIndex", "levels_end", DirStat.levels(st.vec + "/codes"))
      Layer.set("operators.ShingleStore", "levels_end", DirStat.levels(st.shingle + "/sigs"))
      Layer.set("streaming.UpsertStore", "files_end", DirStat.of(st.upsert).files)
    }
    check(ctx, st, embAll, folded.get.toInt, reads)
  }

  /** Pageviews per (normalized url, hour) of the events under `dir`. */
  private def pageviewCounts(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy(UrlFunctions.normalizeUrl(col("url")).as("url"),
        TimeFunctions.hourBucket(col("ts_secs")).as("hbv"))
      .agg(count(lit(1)).as("pageviews"))

  private def maintained(ctx: Ctx, name: String, ran: => Boolean): Unit = {
    val did = Layer.call(ctx, name, None)(ran)
    if (did && Layer.measured(ctx.trace.currentRequest)) Layer.add(name, "runs", 1)
  }

  /** After the last fold, the stores must answer like a one-shot build
    * of the same input.
    */
  private def check(ctx: Ctx, st: Stores, embAll: DataFrame, batches: Int,
      reads: IndexedSeq[Reads.Read]): Unit = {
    val spark = ctx.spark
    val in = ctx.input
    val docPaths = s"$in/initial/docs.parquet" +: (0 until batches).map(i => s"$in/stream/$i/docs.parquet")
    val allDocs = spark.read.parquet(docPaths: _*)
    val fresh = ctx.dir("check")

    // LexIndex: the served version vs a one-shot build
    LexIndex.build(spark, allDocs, fresh + "/lex")
    val served = ServingPointer.resolve(spark, st.lex).get
    val queries = reads.filter(_.kind == "bm25").take(2).map(_.terms)
    val lexBad = queries.count { q =>
      LexIndex.bm25TopK(spark, served, q).collect().toSeq !=
        LexIndex.bm25TopK(spark, fresh + "/lex", q).collect().toSeq
    }
    ctx.report.check("speed.lex_topk_equals_rebuild", lexBad == 0,
      s"$lexBad of ${queries.size} queries differ")

    // ShingleStore: stored rows vs a one-shot build
    ShingleStore.build(spark, allDocs, fresh + "/shingle")
    def shRows(d: String) = ShingleStore.read(spark, d).collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Long](1)).map(_.sorted.mkString(",")).orNull))
      .sortBy(_._1).toSeq
    val (sh, shFresh) = (shRows(st.shingle), shRows(fresh + "/shingle"))
    ctx.report.check("speed.shingle_rows_equal_rebuild", sh == shFresh,
      s"${sh.length} stored rows vs ${shFresh.length} rebuilt, equal=${sh == shFresh}")

    // UpsertStore: lookups vs a batch groupBy over every folded event
    val evPaths = s"$in/initial" +: (0 until batches).map(i => s"$in/stream/$i")
    val truth = evPaths.map(p => pageviewCounts(spark, p)).reduce(_.unionByName(_))
      .groupBy("url", "hbv").agg(sum("pageviews").cast("long").as("pageviews"))
    val stored = UpsertStore.read(spark, st.upsert, Keys).get.select("url", "hbv", "pageviews")
    val truthRows = truth.collect().toSet
    val upDiff = (truthRows diff stored.collect().toSet).size
    val sample = truthRows.toSeq.sortBy(r => (-r.getLong(1), r.getString(0))).take(50)
    val looked = UpsertStore.lookup(spark, st.upsert, Keys,
      sample.map(s => Seq(s.getString(0), s.getLong(1))).toSeq).get
      .select("url", "hbv", "pageviews").collect().toSet
    val readOk = upDiff == 0 && stored.count() == truthRows.size
    ctx.report.check("speed.upsert_equals_batch_groupby", readOk && looked == sample.toSet,
      s"read() equal=$readOk (${truthRows.size} keys), lookup sample equal=${looked == sample.toSet}")

    // VectorIndex: approximate, so k rows per probe with exact cosines
    val probes = reads.filter(_.kind == "ann").take(2).map(_.probe).distinct
    val k = 10
    val hits = VectorIndex.searchIvfPq(spark, st.vec, embAll,
      embAll.where(col("vec_id").isin(probes: _*)), k = k).collect()
    val ids = (probes ++ hits.map(_.getAs[Long]("neighbor_id"))).distinct
    val vecs = embAll.where(col("vec_id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val perProbe = hits.groupBy(_.getAs[Long]("probe_id"))
    val short = probes.count(p => perProbe.get(p).forall(_.length != k))
    val badCos = hits.count { h =>
      math.abs(cos(vecs(h.getAs[Long]("probe_id")), vecs(h.getAs[Long]("neighbor_id"))) -
        h.getAs[Double]("cos")) > 1e-4
    }
    ctx.report.check("speed.ann_k_rows_exact_cosines", short == 0 && badCos == 0,
      s"$short probes without $k rows, $badCos inexact cosines")
  }
}

/** The open-loop reader's requests, generated from the seed (reads.json). */
object Reads {
  final case class Read(kind: String, terms: Seq[String], urls: Seq[String],
      ages: Seq[Int], probe: Long)

  def load(ctx: Ctx): IndexedSeq[Read] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(ctx.input + "/reads.json"))
    root.elements().asScala.map { n =>
      def strs(k: String) = Option(n.get(k)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      def ints(k: String) = Option(n.get(k)).map(_.elements().asScala.map(_.asInt()).toSeq).getOrElse(Nil)
      Read(n.get("kind").asText(), strs("terms"), strs("urls"), ints("ages"),
        Option(n.get("probe")).map(_.asLong()).getOrElse(-1L))
    }.toIndexedSeq
  }

  def exec(ctx: Ctx, st: SpeedServe.Stores, embAll: DataFrame, rd: Read,
      latestHour: Long, req: String): Unit = {
    val spark = ctx.spark
    ctx.trace.span("read." + rd.kind, req) {
      rd.kind match {
        case "lookup" =>
          val keys = rd.urls.zip(rd.ages).map { case (u, a) => Seq(u, math.max(0L, latestHour - a)) }
          Layer.call(ctx, "streaming.UpsertStore.lookup", None) {
            UpsertStore.lookup(spark, st.upsert, Seq("url", "hbv"), keys).get.collect()
          }
        case "bm25" =>
          val dir = Layer.call(ctx, "model.ServingPointer.resolve", None) {
            ServingPointer.resolve(spark, st.lex).get
          }
          Layer.call(ctx, "operators.LexIndex.bm25TopK", None) {
            LexIndex.bm25TopK(spark, dir, rd.terms).collect()
          }
        case "ann" =>
          val df = Layer.call(ctx, "operators.VectorIndex.searchIvfPq", None) {
            val hits = VectorIndex.searchIvfPq(spark, st.vec, embAll,
              embAll.where(col("vec_id") === rd.probe), k = 10)
            hits.collect()
            hits
          }
          if (ctx.trace.enabled && Layer.measured(ctx.trace.currentRequest))
            Layer.add("operators.VectorIndex.searchIvfPq", "exchanges", PlanCount.exchanges(df))
      }
    }
  }
}

/** Exchanges in a query's executed plan, adaptive stages included. */
object PlanCount extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def exchanges(df: DataFrame): Double =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.size.toDouble
}
