package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The benchmark's JVM: one SparkSession on `local[cores]`, driven by a
 * single closed-loop client (each operation starts when the previous one
 * has returned). `run.py` generates the inputs, launches this, and checks
 * what it leaves behind.
 *
 * It builds the session, prints [[Ready]], runs the workload's untimed
 * first operations, prints [[Timed]] (run.py times the session's start-up
 * and the whole set-up from spawn to these two lines), runs --iterations
 * timed iterations of --workload and writes
 * <work>/result.json (and, with --trace 1, <work>/spans.json).
 */
object Main {
  val Ready = "PERFBENCH READY"
  val Timed = "PERFBENCH TIMED"

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.logstore.file", classOf[CountingLogStore].getName)
    // the same "k=v;k=v" session overlay graft.Bench honours; the effective
    // conf lands in the result either way
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) b.config(kv.take(i).trim, kv.drop(i + 1).trim)
    })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = session(a("cores").toInt, work)
    println(Ready)
    System.out.flush()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)

    val ctx = Ctx(spark, work, a("seed").toLong, a("cores").toInt,
      new Tracer(a("trace") == "1", spark), a)
    val r = new Result(ctx.intArg("iterations"))
    try a("workload") match {
      case "pipeline_catchup" => Pipeline.run(ctx, r)
      case "table_upsert" => Table.run(ctx, r)
      case "catalog_mix" => Catalog.run(ctx, r)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch { case _: Result.Stop => () } // the failure is in r.errors
    r.m("workload") = a("workload")
    r.m("cores") = ctx.cores
    r.m("spark_version") = spark.version
    r.m("conf") = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    if (ctx.tracer.on) {
      r.m("trace_overhead_ms") = ctx.tracer.overheadMs
      Json.write(s"$work/spans.json", ctx.tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters)).toSeq)
    }
    Json.write(s"$work/result.json", r.toMap)
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, work: String, seed: Long,
                     cores: Int, tracer: Tracer, args: Map[String, String]) {
  def intArg(k: String): Int = args(k).toInt
}

/** What one run measured: per-operation latency samples, the timed
  * region, operation counts, and anything the correctness gates need. */
final class Result(timedIterations: Int) {
  val m = mutable.LinkedHashMap.empty[String, Any]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var iterations = 0
  private var start = 0L
  private var timedNs = 0L

  def now: Long = System.nanoTime()
  def secsSince(t0: Long): Double = (now - t0) / 1e9

  /** Times one operation of the workload into `name`; a throw counts as
    * a failed operation and stops the loop. */
  def op[A](name: String)(body: => A): A = {
    attempted += 1
    val t0 = now
    try {
      val v = body
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secsSince(t0)
      v
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: $e"
        throw new Result.Stop(e)
    }
  }

  /** A wrong answer seen inside the loop; the run is then not correct. */
  def mismatch(msg: String): Unit = errors += s"mismatch: $msg"

  /** Runs the run's fixed number of timed iterations (run.py sizes it
    * from --seconds), so that every run does the same work whatever the
    * host's speed; stops early if `more` says the inputs are used up. */
  def timedLoop(more: => Boolean)(iteration: => Unit): Unit = {
    // garbage left by the untimed part is collected before the clock starts
    System.gc()
    println(Main.Timed)
    System.out.flush()
    start = now
    try {
      while (more && iterations < timedIterations) {
        iteration
        iterations += 1
      }
    } catch { case _: Result.Stop => () }
    timedNs = now - start
  }

  def toMap: Map[String, Any] = (m ++ Map(
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "iterations" -> iterations, "timed_s" -> timedNs / 1e9,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap)).toMap
}

object Result {
  final class Stop(cause: Throwable) extends RuntimeException(cause)
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))

  def read(path: String): JsonNode = mapper.readTree(Files.readString(Paths.get(path)))

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
