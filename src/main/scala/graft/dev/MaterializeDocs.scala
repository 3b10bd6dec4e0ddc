package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Materialize a DOCUMENTS-HEAVY probe directory (VERDICT r6 #8): the
 * composed pipelines are the slowest bench entries and compose 5+
 * stages, so their exponents deserve a deeper scale point than the
 * whole-dir sf1 probe — `mult` word-permuted copies of `documents`
 * (the [[ScaleBench.materialize]] recipe: distributions preserved,
 * cross-copy near-dup structure destroyed) with every other table
 * copied through at 1×, so the pipeline-family bench runs unchanged
 * against a corpus `mult`× bigger than the base dir.
 *
 *   sbt "runMain graft.dev.MaterializeDocs"    # sf0.1 ×100 → /tmp/graft_sf10_docs
 *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf10_docs SPARK_GRAFT_BENCH_QUERIES=... \
 *     sbt "runMain graft.Bench"
 */
object MaterializeDocs {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_sf10_docs")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "100").toInt
    val spark = graft.GraftSession.local("graft-materialize-docs",
      extra = Map("spark.sql.shuffle.partitions" -> "32"))
    spark.sparkContext.setLogLevel("WARN")
    try {
      def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings").foreach { t =>
        rd(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      val docS = rd("documents").agg(max(col("doc_id")).cast("long"))
        .collect()(0).getLong(0) + 1
      val docs = (0 until mult).map { k =>
        rd("documents")
          .withColumn("doc_id", col("doc_id") + lit(docS * k))
          .withColumn("text",
            if (k == 0) col("text")
            else expr(
              s"""concat_ws(' ', transform(
                 |  array_sort(zip_with(
                 |    split(text, ' '),
                 |    sequence(1, size(split(text, ' '))),
                 |    (w, i) -> struct(xxhash64(w, i, $k) AS h, w AS w))),
                 |  x -> x.w))""".stripMargin))
      }.reduce(_ unionAll _)
      docs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"[materialize-docs] wrote $out (documents ×$mult from $src)")
    } finally spark.stop()
  }
}
