package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Job-level attribution probe (not part of the driver contract), the
  * engine's one probe main. At sf0.1 the inputs are sub-MB, so
  * a multi-second query is spending its time on FIXED per-job overhead
  * (scheduling, commit protocols, file creates), not data — which makes
  * "how many jobs / stages / tasks / file writes does one invocation
  * issue" the first attribution question, before any plan reading.
  *
  * Usage: `runMain graft.Attrib <query>[,<query>...] [reps]`
  * Prints per-rep wall seconds plus the listener's job/stage/task deltas
  * and per-query cumulative executor run time, so "slow because 400
  * jobs" and "slow because one 8 s stage" read differently.
  */
object Attrib {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: Attrib <query>[,<query>...] [reps]"))
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    // shared recipe (graft.Sessions) so probed plans == benched plans
    val spark = Sessions.base(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    // per-stage (name -> (tasks, taskMs, gcMs)) since the last reset, so the
    // burn concentrates to named call sites instead of one opaque total
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Integer, String]()
    // per-callsite JOB counts (callSite.short of the job start), so "73
    // jobs" decomposes to the lines issuing them
    val jobAgg = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("unknown")
        jobAgg.merge(site, 1L, (a, b) => a + b)
      }
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageName.put(s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '\n').take(90))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          val key = Option(stageName.get(t.stageId)).getOrElse(s"stage-${t.stageId}")
          stageAgg.compute(key, (_, v) => {
            val a = if (v == null) new Array[Long](5) else v
            a(0) += 1; a(1) += t.taskMetrics.executorRunTime
            a(2) += t.taskMetrics.jvmGCTime
            a(3) += t.taskMetrics.executorCpuTime / 1000000L
            a(4) += t.taskMetrics.executorDeserializeTime; a
          })
        }
      }
    })
    // same warm-up shape as Bench so rep 1 is comparable
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
    } catch { case e: Throwable => System.err.println(s"[attrib] warm-up: $e") }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      (1 to reps).foreach { r =>
        // settle the listener bus so deltas attribute to this rep only
        System.gc(); Thread.sleep(300)
        val (j0, s0, t0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val w0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - w0) / 1e9
        Thread.sleep(200) // let listener events drain
        println(f"[attrib] $name%-34s rep=$r wall=$wall%7.2f s jobs=${jobs.get - j0}%4d stages=${stages.get - s0}%5d tasks=${tasks.get - t0}%6d taskTime=${(taskMs.get - m0) / 1000.0}%8.1f s")
        if (r == reps) {
          import scala.jdk.CollectionConverters._
          stageAgg.asScala.toSeq.sortBy(-_._2(1)).take(8).foreach { case (n, a) =>
            println(f"[attrib]     ${a(1) / 1000.0}%8.1f s cpu=${a(3) / 1000.0}%7.1f s gc=${a(2) / 1000.0}%5.1f s deser=${a(4) / 1000.0}%5.1f s tasks=${a(0)}%5d  $n")
          }
          jobAgg.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (n, c) =>
            println(f"[attrib]     jobs=$c%4d  $n")
          }
        }
        stageAgg.clear(); jobAgg.clear()
      }
    }
    spark.stop()
  }
}
