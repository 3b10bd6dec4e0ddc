package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Model-based quality scoring: a hashed-feature LINEAR CLASSIFIER
 * over word unigrams — the fastText-style "quality model" gate that
 * modern web-corpus pipelines (FineWeb-Edu, DCLM and company) apply
 * after the rule-based filters. The model is a plain weight vector
 * indexed by feature hash bucket; inference is embarrassingly
 * data-parallel and lives entirely inside whole-stage codegen:
 *
 *   logit(doc) = bias + Σ_{token t} w[h(t) mod B]
 *
 * (term-frequency weighted — every token instance contributes, which
 * is the linear part of a fastText bag-of-words model).
 *
 * Determinism / oracle story: weights are INTEGERS (fixed-point —
 * train with floats elsewhere, quantize to load). Integer sums are
 * exact and order-free, so scores are bit-identical across engines,
 * partitionings and row orders — a float dot product would not be.
 * h(t) is the same md5-prefix bucket every sampler in graft uses
 * ([[Sampling.hashBucket]] formula), so a DuckDB oracle can rebuild
 * scoring byte-for-byte.
 *
 * Scale: the weight vector rides into the plan as ONE array literal
 * (B ≤ ~64k buckets ≈ 512 KB — fastText-scale hashed models fit;
 * bigger models should broadcast-join a (bucket, weight) frame
 * instead). No shuffle, no UDF, no per-row allocation beyond the
 * token split that tokenizing operators already pay.
 */
object Scoring {

  /** Feature bucket of a token string: md5-prefix mod B — identical
    * arithmetic to [[Sampling.hashBucket]] but over the raw token
    * (no cast), so oracles share the fragment. */
  def tokenBucket(token: Column, buckets: Int): Column =
    conv(substring(md5(token), 1, 6), 16, 10).cast("long") % buckets

  /**
   * Per-document logit of the hashed linear model: `bias +
   * Σ_tokens w[bucket(token)]` over whitespace tokens of the
   * lowercased text. `weights(b)` is the weight of bucket `b`.
   */
  def linearLogit(text: Column, weights: Array[Long], bias: Long = 0L): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    val b = weights.length
    val toks = graft.TextAnalysisCols.wsTokens(lower(text))
    val w = typedLit(weights)
    aggregate(
      transform(toks, t => element_at(w, (tokenBucket(t, b) + 1).cast("int"))),
      lit(bias),
      (acc, x) => acc + x)
  }

  /**
   * Score a corpus with a hashed linear quality model: adds `logit`
   * (exact integer score) and `keep` (logit > threshold). Chain
   * `.filter(col("keep"))` for the gate itself.
   */
  def classifyQuality(df: DataFrame, text: Column, weights: Array[Long],
                      bias: Long = 0L, threshold: Long = 0L): DataFrame = {
    val logit = linearLogit(text, weights, bias)
    df.withColumn("logit", logit)
      .withColumn("keep", col("logit") > threshold)
  }

  /**
   * Load a quantized weight vector persisted at training time: a
   * parquet (or csv with header) of (bucket, weight) rows. Missing
   * buckets weigh 0; out-of-range buckets fail loudly. Driver-side
   * collect is bounded by `buckets` (the array the plan embeds
   * anyway) — the same train-once artifact pattern as the IVF
   * codebook.
   */
  def loadWeights(spark: org.apache.spark.sql.SparkSession, path: String,
                  buckets: Int): Array[Long] = {
    val raw = if (path.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else spark.read.parquet(path)
    val w = new Array[Long](buckets)
    raw.select(col("bucket").cast("int"), col("weight").cast("long"))
      .collect().foreach { r =>
        val b = r.getInt(0)
        require(b >= 0 && b < buckets, s"bucket $b outside [0, $buckets)")
        w(b) = r.getLong(1)
      }
    w
  }

  /** Persist quantized weights in the (bucket, weight) parquet shape
    * [[loadWeights]] reads — the train-once model artifact. */
  def saveWeights(spark: org.apache.spark.sql.SparkSession, path: String,
                  weights: Array[Long]): Unit = {
    import spark.implicits._
    weights.zipWithIndex.map { case (w, b) => (b, w) }.toSeq
      .toDF("bucket", "weight").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Deterministic stand-in "pretrained" weight vector for specs and
   * the catalog query: w(b) = (b·2654435761) mod 1997 − 998, a
   * Knuth-hash spray over [−998, 998]. A real model loads its
   * quantized weights from storage; the serving path is identical.
   */
  def syntheticWeights(buckets: Int): Array[Long] =
    Array.tabulate(buckets)(b => (b.toLong * 2654435761L) % 1997L - 998L)
}
