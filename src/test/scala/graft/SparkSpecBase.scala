package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** A clean scratch dir under java.io.tmpdir (recursively deleted if
    * it already exists) — the per-spec table/store root. One shared
    * definition so deletion semantics can't silently diverge between
    * spec files. */
  def freshDir(name: String): String = {
    import scala.jdk.CollectionConverters._
    val p = s"${System.getProperty("java.io.tmpdir")}/$name"
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    p
  }

  /** Run `body`; return its result and the local properties of every
    * Spark job it started. A fence job run afterwards marks the end:
    * the listener bus delivers events in order, so once the fence's
    * start is seen, every job `body` started has been seen too. */
  def jobsStarted[T](body: => T): (T, Seq[java.util.Properties]) = {
    val fence = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.LinkedBlockingQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).getOrElse(new java.util.Properties))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.spec.fence", fence)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.fence", null)
      val jobs = Seq.newBuilder[java.util.Properties]
      def next() = Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("the fence job never reached the listener"))
      var p = next()
      while (p.getProperty("graft.spec.fence") != fence) { jobs += p; p = next() }
      (out, jobs.result())
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` with log4j logger `name` at INFO; return its result and
    * every message logged to that logger meanwhile. The capture is a
    * non-additive config of its own, removed afterwards, so the
    * session's own levels and appenders are left as they were. */
  def logged[T](name: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    import scala.jdk.CollectionConverters._
    val ctx = org.apache.logging.log4j.LogManager.getLogger(name)
      .asInstanceOf[Logger].getContext
    val conf = ctx.getConfiguration
    assert(!conf.getLoggers.containsKey(name), s"logger $name is already configured")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-$name", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val lc = new LoggerConfig(name, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(appender, null, null)
    conf.addLogger(name, lc)
    ctx.updateLoggers()
    try {
      val out = body
      (out, lines.asScala.toSeq)
    } finally {
      conf.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    // the production conf (GraftSession.conf) on four local cores
    val s = GraftSession.local("graft-spec", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
