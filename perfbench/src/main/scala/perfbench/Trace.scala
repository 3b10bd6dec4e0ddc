package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Counts Spark's scheduling, executor, I/O and Catalyst work as it is
  * reported to the listener bus. Registered only in traced runs. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val Names: Seq[String] = Seq("spark.sql_executions", "spark.jobs", "spark.stages",
    "spark.tasks", "executor.run_ms", "executor.cpu_ns", "executor.gc_ms",
    "io.input_bytes", "io.shuffle_write_bytes", "io.shuffle_read_bytes",
    "io.spill_bytes", "io.output_bytes", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms")
  private val c = Names.map(_ -> new AtomicLong()).toMap
  /** Time spent inside these handlers: part of the tracing overhead. */
  val handlerNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs.addAndGet(System.nanoTime() - t0)
  }
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(add("spark.jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(add("spark.stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("executor.gc_ms", m.jvmGCTime)
      add("io.input_bytes", m.inputMetrics.bytesRead)
      add("io.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("io.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("io.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("io.output_bytes", m.outputMetrics.bytesWritten)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => timed(add("spark.sql_executions", 1))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => add("catalyst.analysis_ms", p.durationMs))
      ph.get("optimization").foreach(p => add("catalyst.optimization_ms", p.durationMs))
      ph.get("planning").foreach(p => add("catalyst.planning_ms", p.durationMs))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** One timed call into a layer: `op` is the loop iteration it belongs
  * to (spans of one iteration share it), `parent` the enclosing span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, counters: Map[String, Long])

/** Spans around the benchmark's calls into each layer. With tracing off
  * every call runs bare. With it on, the listener bus is drained and the
  * counters are read at both ends of a span, so each span carries the
  * work its calls caused; the time that takes is counted as tracing
  * overhead and kept out of the span it brackets (an enclosing span still
  * contains it). */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val counters: Option[SparkCounters] =
    if (!on) None
    else {
      val sc = new SparkCounters
      spark.sparkContext.addSparkListener(sc)
      spark.listenerManager.register(sc)
      Some(sc)
    }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op = 0
  private var overheadNs = 0L

  /** Listener and LogStore counters after every posted event is in. */
  private def read(): Map[String, Long] = {
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = counters.map(_.snapshot()).getOrElse(Map.empty) ++ CountingLogStore.snapshot()
    overheadNs += System.nanoTime() - t0
    out
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val before = read()
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val after = read()
        spans += Span(id, parent, op, name, t0, t1,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0))
      }
    }

  /** Tracing's own cost so far: bus drains, counter reads, handlers. */
  def overheadMs: Double =
    (overheadNs + counters.map(_.handlerNs.get).getOrElse(0L)) / 1e6
}
