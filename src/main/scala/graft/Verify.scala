package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop subset: SPARK_GRAFT_VERIFY_QUERIES=a,b reruns just those
    // (the driver never sets it, so its gate always runs the full map)
    val subset = sys.env.get("SPARK_GRAFT_VERIFY_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = subset.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (n, _) => s(n) })
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // dedup/similarity operators cache signature frames; drop them
      // between queries so a 47-query loop doesn't accumulate blocks
      graft.operators.OpCache.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // SURVEY totals gate: prose == §2 table == this fresh catalog, so
    // the coverage claims are machine-checked EVERY gate run, not just
    // on manual tool invocations. Loud but non-fatal here (a prose
    // drift must not zero the round's DuckDB correctness row) — the
    // FATAL twin lives in SurveyGateSpec, which fails `sbt test` when
    // a catalog entry is added without its SURVEY accounting.
    try {
      val proc = new ProcessBuilder(
        "python3", "tools/check_survey.py", s"$outDir/oracle_sql.json")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes())
      if (proc.waitFor() != 0)
        System.err.println(s"[verify] SURVEY GATE FAILED:\n$out")
      else println(out.linesIterator.map("[verify] " + _).mkString("\n"))
    } catch { case e: Exception =>
      System.err.println(s"[verify] survey gate skipped: ${e.getMessage}")
    }
    spark.stop()
  }
}
