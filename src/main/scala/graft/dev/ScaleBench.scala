package graft.dev

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * One-order-up scale probe (VERDICT r4 #5): the driver ships sf0.001/
 * 0.01/0.1 only, so this tool MATERIALIZES an sf~1 dataset by unioning
 * `mult` key-offset copies of sf0.1 and then times a headline subset
 * at both scales, reporting the per-query scaling exponent
 * (log(t_N/t_1)/log(N) — ~1 = linear, >1.2 = investigate) plus
 * shuffle-write volume at both scales from the PlanAudit listener.
 *
 * The copies are NOT verbatim clones — verbatim duplication would turn
 * every document into an exact dupe family of size `mult` and measure
 * a pathological corpus, not a bigger one:
 *  - documents: copy k>0 gets its words deterministically permuted
 *    (sort by xxhash64(word, pos, k)), so length/token/char
 *    distributions are preserved while cross-copy n-gram/minhash
 *    near-dup structure is destroyed — near-dup DENSITY stays ~flat
 *    as the corpus grows, like a real crawl.
 *  - embeddings: copy k>0 is rotated by k positions — norm preserved,
 *    direction changed, so ANN cell occupancy grows instead of
 *    stacking exact duplicates.
 *  - fact tables (orders/lineitem/events/customer/part/supplier):
 *    keys offset per copy so join fan-outs stay 1:1; dims
 *    (region/nation) stay fixed, as they would at any scale.
 *
 * Timings are single-run (the probe is about the CURVE, not ±10%):
 *
 *   sbt "runMain graft.dev.ScaleBench"
 *     env: SPARK_GRAFT_SCALE_MULT (10), SPARK_GRAFT_SF_DIR (sf0.1),
 *          SPARK_GRAFT_SCALE_QUERIES (comma list)
 */
object ScaleBench {

  val defaultQueries: Seq[String] = Seq(
    "q1_pricing", "q3_revenue", "q_sessions", "q_events_hourly",
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard", "dedup_paragraph",
    "strip_boilerplate", "text_gopher", "vocab_df", "decontaminate_bloom",
    "sim_lsh", "emb_centroids", "shuffle_order", "pipeline_docs_v3",
    // round-5 additions
    "sim_lsh_auto", "text_entropy", "lm_perplexity", "bpe_tokens",
    "sample_weighted", "fuzzy_names_jw", "dedup_substrings",
    "pipeline_docs_v4",
    // round-6 additions: the zero-exchange bucketed join and the
    // sketch-only hot-key probe — both exist BECAUSE of what this
    // tool measured at 10x
    "q3_revenue_bucketed", "skew_keys_approx",
    // round-7 additions: the incremental family (delta-sized by
    // construction) and the heap-ranked ANN serve paths
    "corpus_merge", "agg_maintain", "sim_ivf_int8", "sim_search")

  /** Union `mult` copies of sf0.1 into `out`, keys offset, documents
    * word-permuted, embeddings rotated (see object doc). */
  def materialize(spark: SparkSession, src: String, out: String, mult: Int): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dims: fixed at any scale
    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)

    // one span per KEY DOMAIN, applied to every column referencing it,
    // so copy k's facts join copy k's entities exactly like copy 0's
    def span(t: String, c: String): Long =
      rd(t).agg(max(col(c)).cast("long")).collect()(0).getLong(0) + 1
    val custS = span("customer", "c_custkey")
    val suppS = span("supplier", "s_suppkey")
    val partS = span("part", "p_partkey")
    val ordS  = span("orders", "o_orderkey")
    val evtS  = span("events", "event_id")
    val userS = span("events", "user_id")
    val docS  = span("documents", "doc_id")
    val vecS  = span("embeddings", "vec_id")

    def offsetCopies(t: String, parts: Int)(keys: (DataFrame, Int) => DataFrame): Unit =
      wr((0 until mult).map(k => keys(rd(t), k)).reduce(_.unionAll(_)), t, parts)

    offsetCopies("customer", 4)((df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(custS * k))
        // regenerate the name from the offset key (the TPC-H rule):
        // verbatim name copies would give every customer 10 exact
        // aliases and blow blocked entity resolution quadratically —
        // an artifact, not a property of a bigger corpus
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))))
    offsetCopies("supplier", 2)((df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(suppS * k)))
    offsetCopies("part", 4)((df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(partS * k)))
    offsetCopies("orders", 16)((df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(ordS * k))
        .withColumn("o_custkey", col("o_custkey") + lit(custS * k)))
    offsetCopies("lineitem", 32)((df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(ordS * k))
        .withColumn("l_partkey", col("l_partkey") + lit(partS * k))
        .withColumn("l_suppkey", col("l_suppkey") + lit(suppS * k)))
    offsetCopies("events", 16)((df, k) =>
      df.withColumn("event_id", col("event_id") + lit(evtS * k))
        .withColumn("user_id", col("user_id") + lit(userS * k))
        // shift each copy a few minutes so sessions/windows don't
        // stack; ts is a NANOS long under nanosAsLong on the legacy
        // testdata layout, a (NTZ) timestamp on the micros layout —
        // shift in whichever domain the file carries
        .withColumn("ts", df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            col("ts") + lit(k * 7L * 60L * 1000000000L)
          case _ => col("ts") + expr(s"INTERVAL '${k * 7}' MINUTE")
        }))
    offsetCopies("documents", 16)((df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(docS * k))
        .withColumn("text",
          if (k == 0) col("text")
          else expr(
            s"""concat_ws(' ', transform(
               |  array_sort(zip_with(
               |    split(text, ' '),
               |    sequence(1, size(split(text, ' '))),
               |    (w, i) -> struct(xxhash64(w, i, $k) AS h, w AS w))),
               |  x -> x.w))""".stripMargin)))
    offsetCopies("embeddings", 8)((df, k) => {
      // rotation must never be 0 for k>0 — k % dim would make copies
      // at multiples of the modulus exact verbatim duplicates and
      // reintroduce the dup-stacking this materializer exists to
      // avoid; 1 + (k-1) % 15 stays in [1, 15] for any mult
      val rot = 1 + ((k - 1) % 15)
      df.withColumn("vec_id", col("vec_id") + lit(vecS * k))
        .withColumn("embedding",
          if (k == 0) col("embedding")
          else expr(s"concat(slice(embedding, $rot + 1, size(embedding))," +
            s" slice(embedding, 1, $rot))"))
    })
  }

  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultQueries)
    val spark = graft.GraftSession.local("graft-scale-bench")
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Files.createTempDirectory("graft-scaled").toString
    println(s"[scalebench] materializing ${mult}x of $src -> $out")
    val t0 = System.nanoTime()
    materialize(spark, src, out, mult)
    println(f"[scalebench] materialized in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def timed(name: String, dir: String): (Double, Long) = {
      System.gc()
      var shuffle = 0L
      val s0 = System.nanoTime()
      val m = PlanAudit.measure(spark) {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      shuffle = m("shuffle_write_bytes")
      val secs = (System.nanoTime() - s0) / 1e9
      graft.operators.OpCache.releaseAll()
      spark.catalog.clearCache()
      (secs, shuffle)
    }

    timed("q1_pricing", src) // warmup
    val lines = queries.map { q =>
      val (t1, sh1) = timed(q, src)
      val (tN, shN) = timed(q, out)
      val exp = math.log(tN / t1) / math.log(mult.toDouble)
      val line = f"""{"query":"$q","t1":$t1%.2f,"tN":$tN%.2f,"mult":$mult,""" +
        f""""exponent":$exp%.2f,"shuffle_mb_1":${sh1 / 1e6}%.1f,"shuffle_mb_N":${shN / 1e6}%.1f}"""
      println(line)
      line
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("scalebench_out.json"),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
