package lambdabench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** CPU seconds of each measured operation: the calling thread's CPU time
  * over the call plus the executor CPU time (deserialize and run) of every
  * Spark task the call's jobs ran.
  *
  * Both are thread CPU clocks, which on a paravirtualized kernel exclude
  * the time the hypervisor stole from the machine's vCPUs. Wall-clock
  * latency on a shared host swings with that steal (on a 4-vCPU VM a run
  * that lost 8-19 % of its CPU to steal saw its recompute and fold
  * latencies rise 25-70 %, because every Spark stage waits for its
  * slowest task), so the benchmark's bounded end-to-end timings are CPU
  * seconds; wall-clock latencies are reported beside them.
  *
  * Attribution: [[measure]] sets the Spark local property `lambdabench.op`
  * on the calling thread, so each job carries the operation's id; a
  * stage belongs to the first job that ran it. Driver-side helper
  * threads (broadcast builds, result fetchers), GC and JIT threads are
  * not counted.
  */
final class CpuMeter(sc: SparkContext) {
  private val mx = ManagementFactory.getThreadMXBean
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val taskNs = new ConcurrentHashMap[String, java.lang.Long]()
  private val threadNs = new ConcurrentHashMap[String, java.lang.Long]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(CpuMeter.Prop))).foreach { op =>
        e.stageIds.foreach(stageOp.putIfAbsent(_, op))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.get(e.stageId)
      val m = e.taskMetrics
      if (op != null && m != null)
        taskNs.merge(op, m.executorCpuTime + m.executorDeserializeCpuTime, (a, b) => a + b)
    }
  })

  /** Run `body` as operation `op` (an id unique in the run); returns its
    * result and wall seconds. Its CPU seconds are read with [[cpuS]].
    */
  def measure[T](op: String)(body: => T): (T, Double) = {
    val saved = sc.getLocalProperty(CpuMeter.Prop)
    sc.setLocalProperty(CpuMeter.Prop, op)
    val c0 = mx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      threadNs.merge(op, mx.getCurrentThreadCpuTime - c0, (a, b) => a + b)
      sc.setLocalProperty(CpuMeter.Prop, saved)
    }
  }

  /** CPU seconds of `op`; call [[drain]] once after the operations end. */
  def cpuS(op: String): Double = {
    require(threadNs.containsKey(op), s"operation $op was not measured")
    (threadNs.get(op) + taskNs.getOrDefault(op, 0L)) / 1e9
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = BenchBus.drain(sc)
}

object CpuMeter {
  val Prop = "lambdabench.op"
}
