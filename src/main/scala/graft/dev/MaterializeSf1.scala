package graft.dev


/**
 * Materialize the sf~1 probe dataset once (VERDICT r5 #7: a real sf1
 * bench directory, not just ScaleBench's in-run probe): 10 key-offset
 * copies of sf0.1 with word-permuted documents and rotated embeddings
 * — see [[ScaleBench.materialize]] for why verbatim copies would
 * measure a pathological corpus. Then point the ordinary mains at it:
 *
 *   sbt "runMain graft.dev.MaterializeSf1"            # writes /tmp/graft_sf1
 *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "runMain graft.Bench"
 *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "runMain graft.dev.PlanAudit"
 *
 * Committed results: BENCH_sf1.json (with the sf0.1 exponent notes).
 */
object MaterializeSf1 {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = graft.GraftSession.local("graft-materialize-sf1",
      extra = Map("spark.sql.shuffle.partitions" -> "32"))
    spark.sparkContext.setLogLevel("WARN")
    try {
      ScaleBench.materialize(spark, src, out, mult)
      println(s"[materialize] wrote $out (mult=$mult from $src)")
    } finally spark.stop()
  }
}
