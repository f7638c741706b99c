package wxbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.wxbench.ListenerBusDrain

/** One span per layer, with the Spark work that ran while it was open.
  *
  * Attribution rests on draining the listener bus at both edges of every
  * span: all events of the jobs a span started are delivered before it
  * closes, and none of them after, so whichever span is open when an
  * event arrives is the span that caused it.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class Span(val name: String) {
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    var ms: Double = 0
    def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
    def max(k: String, v: Double): Unit =
      counters(k) = math.max(counters.getOrElse(k, 0.0), v)
  }

  @volatile private var open: Span = _

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Runs `body` as span `name`; returns its result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    ListenerBusDrain(spark.sparkContext)
    val s = new Span(name)
    val codegen0 = CodeGenerator.compileTime
    open = s
    val t0 = System.nanoTime()
    val r = try body finally {
      ListenerBusDrain(spark.sparkContext)
      s.ms = (System.nanoTime() - t0) / 1e6
      open = null
    }
    s.add("spark.codegen_ms", (CodeGenerator.compileTime - codegen0) / 1e6)
    (r, s)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = open
    if (s != null) s.add("spark.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = open
    if (s != null) s.add("spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = open
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.add("spark.tasks", 1)
      s.add("spark.run_ms", m.executorRunTime.toDouble)
      s.add("spark.cpu_ms", m.executorCpuTime / 1e6)
      s.add("spark.gc_ms", m.jvmGCTime.toDouble)
      s.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("spark.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      s.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.max("spark.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = open
    if (s != null) {
      s.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      s.add("files_scanned", filesRead(qe.executedPlan).toDouble)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Files read by every scan of an executed plan, through AQE stages. */
  private def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case other => other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
      other.children.map(filesRead).sum
  }

  def close(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}
