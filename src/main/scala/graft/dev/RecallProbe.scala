package graft.dev

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * ANN RECALL PROBE: measured recall@k of every approximate similarity
 * path against the exact brute-force baseline on the real embeddings
 * table — the accuracy axis the wall-clock bench can't show. Each
 * method's sf0.1 numbers are committed in RECALL.md; per-method specs
 * gate regressions on planted cases, this tool reports corpus-level
 * recall (mean |approx∩exact| / k over all query ids).
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.dev.RecallProbe"
 */
object RecallProbe {

  def recallAgainst(truth: DataFrame, approx: DataFrame, k: Int): Double = {
    val t = truth.groupBy(col("id")).agg(collect_set(col("neighbor_id")).as("tset"))
    val a = approx.groupBy(col("id")).agg(collect_set(col("neighbor_id")).as("aset"))
    t.join(a, Seq("id"), "left")
      .select(avg(size(array_intersect(col("tset"),
        coalesce(col("aset"), array().cast("array<long>")))).cast("double") / k))
      .first().getDouble(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = 10
    val spark = graft.GraftSession.local("graft-recall-probe")
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val id = col("vec_id")
    val v = col("embedding")

    // exact ground truth (self top-k)
    val truth = Similarity.bruteForceTopK(emb, emb, id, v, k)
      .select(col("id"), col("neighbor_id")).cache()
    truth.count()

    def timedVs(name: String, truthDf: DataFrame)(build: => DataFrame): String = {
      val t0 = System.nanoTime()
      val out = build.select(col("id"), col("neighbor_id"))
      val r = recallAgainst(truthDf, out, k)
      val secs = (System.nanoTime() - t0) / 1e9
      graft.operators.OpCache.releaseAll()
      val line = f"""{"method":"$name","recall_at_$k":$r%.3f,"secs":$secs%.2f}"""
      println(line)
      line
    }
    def timed(name: String)(build: => DataFrame): String =
      timedVs(name, truth)(build)

    val cells = Similarity.trainKmeans(emb, id, v, nlist = 64)
    val pq = Similarity.trainPqCodebook(emb, id, v)
    val lines = Seq(
      timed("lsh_bits8")(Similarity.lshTopK(emb, id, v, k)),
      timed("lsh_auto")(Similarity.lshTopK(emb, id, v, k, bits = 0)),
      timed("lsh_auto_t16")(Similarity.lshTopK(emb, id, v, k, tables = 16, bits = 0)),
      timed("lsh_auto_t32")(Similarity.lshTopK(emb, id, v, k, tables = 32, bits = 0)),
      timed("ivf_flat_p8")(Similarity.ivfTopK(emb, id, v, k, nprobe = 8,
        centroidsIn = Some(cells))),
      timed("ivf_flat_p16")(Similarity.ivfTopK(emb, id, v, k, nprobe = 16,
        centroidsIn = Some(cells))),
      timed("ivf_pq_p8")(Similarity.ivfPqTopK(emb, id, v, k, nprobe = 8,
        cells = cells, pq = pq)),
      timed("ivf_pq_p16")(Similarity.ivfPqTopK(emb, id, v, k, nprobe = 16,
        cells = cells, pq = pq))) ++ {
      // int8-store serving (sim_ivf_int8's shape): reconstruct q·scale
      // at scan time, same codebook — measures what 4× storage costs
      // in recall, plus its direct agreement with the fp32 IVF path
      val recon = Similarity.quantizeInt8(
          emb.filter(v.isNotNull), "vec_id", "embedding")
        .select(col("vec_id"),
          transform(col("q").cast("array<double>"),
            x => x * col("q_scale")).as("embedding"))
      val int8Lines = Seq(
        timed("ivf_int8_p8")(Similarity.ivfTopK(recon, id, v, k, nprobe = 8,
          centroidsIn = Some(cells))),
        timed("ivf_int8_p16")(Similarity.ivfTopK(recon, id, v, k, nprobe = 16,
          centroidsIn = Some(cells))))
      val fp32 = Similarity.ivfTopK(emb, id, v, k, nprobe = 16,
        centroidsIn = Some(cells)).select(col("id"), col("neighbor_id"))
      val int8 = Similarity.ivfTopK(recon, id, v, k, nprobe = 16,
        centroidsIn = Some(cells)).select(col("id"), col("neighbor_id"))
      val agree = recallAgainst(fp32, int8, k)
      graft.operators.OpCache.releaseAll()
      val agreeLine = f"""{"method":"ivf_int8_vs_fp32_p16","agreement_at_$k":$agree%.3f}"""
      println(agreeLine)
      int8Lines :+ agreeLine
    } ++ {
      // FILTERED ANN (r8): pre-filter recall vs the brute-force truth
      // over the ALLOWED slice only — queries drawn disjoint from the
      // filter so self-matches cannot skew either side. The claim
      // under test: restricting the corpus costs NO recall at fixed
      // nprobe (the pre-filter result IS the restricted-corpus
      // search), where a post-filter overfetch degrades as the filter
      // sharpens.
      val allowed = col("vec_id") % 3 === 1
      val qs = emb.filter(col("vec_id") % 3 =!= 1 && col("vec_id") % 5 === 0)
      val ftruth = Similarity.bruteForceTopK(qs, emb.filter(allowed), id, v, k)
        .select(col("id"), col("neighbor_id")).cache()
      ftruth.count()
      Seq(
        timedVs("ivf_filtered_p8", ftruth)(Similarity.ivfSearchWhere(
          qs, emb, id, v, allowed, k, nprobe = 8, centroidsIn = Some(cells))),
        timedVs("ivf_filtered_p16", ftruth)(Similarity.ivfSearchWhere(
          qs, emb, id, v, allowed, k, nprobe = 16, centroidsIn = Some(cells))))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("recall_out.json"),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
