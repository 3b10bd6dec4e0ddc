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
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    // the production conf (GraftSession.conf) on four local cores
    val s = GraftSession.local("graft-spec", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
