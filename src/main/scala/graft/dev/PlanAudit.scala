package graft.dev

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/**
 * Shuffle-volume audit of the catalog: wall time tells you a query is
 * slow, shuffle bytes tell you WHY it won't scale — a plan that
 * shuffles its input is bounded by the network at 100 TB no matter
 * how fast it looks at sf0.1. This main runs each query through the
 * noop sink under a stage-metrics listener and emits one JSON line
 * per query: input bytes read, shuffle bytes written/read, disk
 * spill, task count. The interesting ratios:
 *
 *   shuffle_write / input  — how much of the corpus crosses the wire
 *                            (scan-side operators must be ~0; dedup/
 *                            join operators should be far below 1
 *                            when signatures, not payloads, shuffle)
 *   spill                  — nonzero means partitions outgrew memory:
 *                            re-size shuffle.partitions before 100×
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.dev.PlanAudit [q1 q2…]"
 *
 * PlanAuditSpec pins the zero-shuffle contract of the scan-side
 * operators with the same listener.
 */
object PlanAudit {

  /** Aggregates stage-level task metrics across every stage that
    * completes while attached. */
  final class MetricsListener extends SparkListener {
    val inputBytes = new LongAdder
    val shuffleWrite = new LongAdder
    val shuffleRead = new LongAdder
    val diskSpill = new LongAdder
    val tasks = new LongAdder
    // time attribution (r16): Σ executor run/CPU/GC across tasks plus
    // the stage count — executorRun/32 ≈ wall means compute-bound;
    // far below wall means the time is scheduling/driver/stage-count
    // overhead, a different fix
    val stages = new LongAdder
    val execRunMs = new LongAdder
    val execCpuMs = new LongAdder
    val gcMs = new LongAdder
    // driver round-trips (r17): every job = one blocking driver
    // action; on object stores each serial action is ≥1 RTT of dead
    // time, so a query's job count is what guard/probe fusion (§5)
    // must shrink
    val jobs = new LongAdder
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(1L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        inputBytes.add(m.inputMetrics.bytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        diskSpill.add(m.diskBytesSpilled)
        execRunMs.add(m.executorRunTime)
        execCpuMs.add(m.executorCpuTime / 1000000L)
        gcMs.add(m.jvmGCTime)
      }
      stages.add(1L)
      tasks.add(sc.stageInfo.numTasks)
    }
  }

  /** Run `body` under a fresh listener and return its totals once the
    * async listener bus has drained (counters stable across polls). */
  def measure(spark: SparkSession)(body: => Unit): Map[String, Long] = {
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are delivered async; wait until totals settle
      var prev = -1L
      var same = 0
      var rounds = 0
      while (same < 3 && rounds < 100) {
        val cur = l.tasks.sum + l.shuffleWrite.sum + l.inputBytes.sum
        if (cur == prev) same += 1 else { same = 0; prev = cur }
        Thread.sleep(50)
        rounds += 1
      }
    } finally spark.sparkContext.removeSparkListener(l)
    Map(
      "input_bytes" -> l.inputBytes.sum,
      "shuffle_write_bytes" -> l.shuffleWrite.sum,
      "shuffle_read_bytes" -> l.shuffleRead.sum,
      "disk_spill_bytes" -> l.diskSpill.sum,
      "tasks" -> l.tasks.sum,
      "stages" -> l.stages.sum,
      "jobs" -> l.jobs.sum,
      "exec_run_ms" -> l.execRunMs.sum,
      "exec_cpu_ms" -> l.execCpuMs.sum,
      "gc_ms" -> l.gcMs.sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-plan-audit")
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else graft.Bench.headline
    // steady-state audit: one unmeasured warmup run per query first, so
    // train-once artifacts (shingle stats, IVF/PQ codebooks, the r8
    // snapshot table build) are excluded from the measured plan — the
    // serving shape is what the shuffle accounting must reflect.
    // SPARK_GRAFT_AUDIT_WARM=0 restores cold-start measurement.
    val warm = sys.env.getOrElse("SPARK_GRAFT_AUDIT_WARM", "1") == "1"
    names.foreach { name =>
      if (warm) {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        graft.operators.OpCache.releaseAll()
        spark.catalog.clearCache()
      }
      val m = measure(spark) {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        graft.operators.OpCache.releaseAll()
        spark.catalog.clearCache()
      }
      val ratio =
        if (m("input_bytes") == 0) 0.0
        else m("shuffle_write_bytes").toDouble / m("input_bytes")
      println(s"""{"query":"$name","input_bytes":${m("input_bytes")},""" +
        s""""shuffle_write_bytes":${m("shuffle_write_bytes")},""" +
        s""""shuffle_read_bytes":${m("shuffle_read_bytes")},""" +
        s""""disk_spill_bytes":${m("disk_spill_bytes")},""" +
        s""""tasks":${m("tasks")},"stages":${m("stages")},"jobs":${m("jobs")},""" +
        s""""exec_run_ms":${m("exec_run_ms")},"exec_cpu_ms":${m("exec_cpu_ms")},""" +
        s""""gc_ms":${m("gc_ms")},"shuffle_per_input":$ratio}""")
    }
    spark.stop()
  }
}
