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
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    // the production conf (GraftSession.conf) on four local cores
    val s = GraftSession.local("graft-spec", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
