package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * BPE VOCABULARY INDUCTION (Sennrich et al. '16) — train a byte-pair
 * tokenizer's merge table on the corpus, the step between "clean
 * documents" and "token ids" in every LLM data pipeline.
 *
 * Scale split, mirroring how production tokenizer trainers work:
 *  - the CORPUS-SCALE pass is distributed: one shuffle producing the
 *    word-type histogram (word, count) — exchanges carry (token,
 *    partial count), never documents; by Heaps' law the histogram is
 *    ~√corpus, and it's capped at `maxWordTypes` top types by count
 *    (ties by word) for a bounded driver footprint, the same bounded-
 *    collect precedent as k-means training samples and the union-find
 *    size switch.
 *  - the MERGE LOOP runs driver-side over that bounded histogram:
 *    numMerges iterations of count-pairs → argmax → rewrite. At 64k
 *    word types × 1k merges this is milliseconds per iteration —
 *    distributing it would shuffle per merge and be slower by orders.
 *
 * Ties break by (count desc, pair lexicographic) — fully
 * deterministic: same corpus → same merge table on any cluster.
 *
 * Serving is scan-side: [[graft.functions.BpeExprs.BpeEncodeExpr]]
 * applies the trained merges as a native expression (the merge table
 * travels as a plan literal like the quality classifier's weights),
 * so encoding a 100 TB corpus is a zero-shuffle projection.
 */
object Bpe {

  /** Distributed word-type histogram, capped at `maxWordTypes` rows
    * by (count desc, word) — the bounded input to the merge loop. */
  def wordHistogram(corpus: DataFrame, content: Column,
                    maxWordTypes: Int): DataFrame =
    corpus.select(explode(LanguageModel.tokens(content)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxWordTypes)

  /**
   * Train `numMerges` merges; returns them in rank order. Each merge
   * is (left, right) over the symbol alphabet (initial symbols =
   * single characters of the lowercased word).
   */
  def trainMerges(corpus: DataFrame, content: Column, numMerges: Int,
                  maxWordTypes: Int = 65536): Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    val hist = wordHistogram(corpus, content, maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainOnHistogram(hist, numMerges)
  }

  /** Code-point (= UTF-8 byte) lexicographic comparison: the order
    * Spark sorts UTF8String in. Java's `String` `<` compares UTF-16
    * code UNITS; the two disagree for supplementary characters
    * (emoji, CJK extensions), so the tie-break compares code points
    * to stay one order beyond the BMP. */
  private[operators] def cmpCodePoint(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Split into code-point symbols, not UTF-16 units: a surrogate
    * pair is ONE initial symbol, as in Spark's `substring`. */
  private[graft] def codePointSymbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** The merge loop itself, exposed for specs: deterministic BPE over
    * an in-memory (word, count) histogram. */
  def trainOnHistogram(hist: Array[(String, Long)],
                       numMerges: Int): Seq[(String, String)] = {
    // each word as its current symbol sequence, weighted by count
    var words: Array[(Array[String], Long)] =
      hist.map { case (w, c) => (codePointSymbols(w), c) }
    val merges = Seq.newBuilder[(String, String)]
    var iter = 0
    var done = false
    while (iter < numMerges && !done) {
      // boxed Long value type: a primitive type parameter would make
      // Scala unbox missing keys' null silently (see BpeExprs.rank)
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          val prev = counts.get(k)
          counts.put(k, java.lang.Long.valueOf(
            (if (prev == null) 0L else prev.longValue()) + c))
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestC = -1L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val k = e.getKey
          val c = e.getValue.longValue()
          // deterministic: count desc, then pair lexicographic by
          // CODE POINT (see cmpCodePoint)
          if (c > bestC || (c == bestC && {
              val c1 = cmpCodePoint(k._1, best._1)
              c1 < 0 || (c1 == 0 && cmpCodePoint(k._2, best._2) < 0)
            })) {
            best = k; bestC = c
          }
        }
        if (bestC < 2) done = true // nothing left worth merging
        else {
          merges += best
          words = words.map { case (syms, c) =>
            (mergePair(syms, best._1, best._2), c)
          }
        }
      }
      iter += 1
    }
    merges.result()
  }

  def mergePair(syms: Array[String],
                                   l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += (l + r)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Encode a text column with a trained merge table — scan-side
    * native expression, merge table as a plan literal. Output:
    * array of subword tokens. */
  def encode(content: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeExprs.bpeEncode(content, merges)

  /** Persist a merge table as parquet (rank, left, right) — the
    * train-once / serve-everywhere artifact, like the classifier
    * weights and IVF codebooks. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge table persisted by [[saveMerges]]. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] =
    spark.read.parquet(path)
      .orderBy("rank")
      .collect().map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
      .toSeq
}
