package graft


/**
 * Plan-inspection CLI: print the FORMATTED physical plan of any
 * catalog query without executing it (beyond the bounded plan-time
 * actions some operators perform, e.g. the PPJoin frequency
 * aggregation). The tool behind the per-operator plan audits —
 * pushed filters, read schemas, exchange placement, broadcast sides
 * and whole-stage-codegen spans are all visible in this output.
 *
 * Usage: runMain graft.ExplainQuery [sfDir] <query> [query...]
 */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainQuery [sfDir] <query> [query...]")
    val (dir, names) =
      if (args.head.startsWith("/")) (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.001", args.toSeq)
    require(names.nonEmpty, "no query names given")
    val spark = GraftSession.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown query '$name'; have ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      println(s"========== $name ==========")
      // SPARK_GRAFT_EXPLAIN_MODE=codegen prints the whole-stage-
      // codegen subtree listing instead (the "Found N WholeStageCodegen
      // subtrees" evidence a formatted pre-AQE plan cannot show).
      // Under AQE the final plan — and its codegen ids — only exists
      // after execution, so this mode RUNS the query (consumed through
      // the internal-row RDD, no driver collect) and then explains the
      // same QueryExecution, now final.
      val df = fn(spark, dir)
      val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted") match {
        case "codegen" =>
          df.queryExecution.toRdd.foreachPartition(
            it => while (it.hasNext) it.next())
          org.apache.spark.sql.execution.CodegenMode
        case _ => org.apache.spark.sql.execution.FormattedMode
      }
      println(df.queryExecution.explainString(mode))
      operators.OpCache.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
