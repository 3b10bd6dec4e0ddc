package graft

import graft.operators.{Chunking, Sampling, Search, Similarity, StatsOp}
import org.apache.spark.sql.functions._

/** Specs for the round-4 operators: BM25 search, √-temperature
  * mixing, per-label centroids, key-skew histogram. */
class SearchSpec extends SparkSpecBase {
  import spark.implicits._

  test("bm25: higher tf wins at equal length; rarity outweighs common terms") {
    val docs = Seq(
      (1L, "spark spark spark filler filler filler filler filler"),
      (2L, "spark filler filler filler filler filler filler filler"),
      (3L, "filler spark hash hash hash filler filler filler"),
      (4L, "nothing here at all eight tokens exactly filler")).toDF("doc_id", "text")
    val out = Search.bm25(docs, col("text"), col("doc_id"),
      terms = Seq("spark", "hash"), topK = 10)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    // doc 3 matches BOTH terms (hash is rarer => bigger idf) → rank 1;
    // doc 1 (tf=3 spark) beats doc 2 (tf=1); doc 4 matches nothing
    assert(out(3L) === 1, s"got $out")
    assert(out(1L) === 2, s"got $out")
    assert(out(2L) === 3, s"got $out")
    assert(!out.contains(4L), "non-matching docs must not be ranked")
  }

  test("bm25: deterministic under repartition; topK bounds output") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val a = Search.bm25(docs, col("text"), col("doc_id"),
      terms = Seq("spark", "hash"), topK = 5)
      .select("doc_id", "score", "rank").collect().toSeq
    val b = Search.bm25(docs.repartition(13), col("text"), col("doc_id"),
      terms = Seq("spark", "hash"), topK = 5)
      .select("doc_id", "score", "rank").collect().toSeq
    assert(a.toSet === b.toSet, "bm25 must be partitioning-invariant")
    assert(a.size === 5)
    graft.operators.OpCache.releaseAll()
  }

  test("rrfFuse: hand-checked fusion, missing side contributes zero, order is (rrf desc, id)") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val vec = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = Search.rrfFuse(Seq("lex" -> lex, "vec" -> vec), fuseK = 60,
        topK = 10)
      .select("doc_id", "rrf", "rank").as[(Long, Double, Int)].collect()
    val byId = out.map(r => r._1 -> r._2).toMap
    // doc 20 is in both lists: 1/62 + 1/61 — must outrank every
    // single-list doc; doc 40 (vec rank 2) vs doc 10 (lex rank 1):
    // 1/62 < 1/61, so 10 beats 40
    assert(byId(20L) == 1.0 / 62 + 1.0 / 61)
    assert(byId(10L) == 1.0 / 61 && byId(40L) == 1.0 / 62)
    assert(byId(30L) == 1.0 / 63)
    assert(out.sortBy(_._3).map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
    // topK bounds; duplicate list names rejected
    assert(Search.rrfFuse(Seq("a" -> lex, "b" -> vec), topK = 2)
      .count() == 2)
    intercept[IllegalArgumentException] {
      Search.rrfFuse(Seq("a" -> lex, "a" -> vec)) }
  }

  test("sqrtTemperatureMix: rarest stratum kept whole, dominant flattened to ~sqrt") {
    val df = spark.read.parquet(sf() + "/documents.parquet")
    val out = Sampling.sqrtTemperatureMix(df, col("lang"), col("doc_id"))
    val before = df.groupBy("lang").count().as[(String, Long)].collect().toMap
    val after = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    val minLang = before.minBy(_._2)._1
    assert(after(minLang) === before(minLang), "rarest stratum must be kept whole")
    // expected kept ≈ sqrt(n_s * n_min) per stratum (hash noise ±20%)
    val nMin = before(minLang).toDouble
    before.foreach { case (lang, n) =>
      val expected = math.sqrt(n * nMin)
      assert(math.abs(after(lang) - expected) <= expected * 0.2 + 3,
        s"$lang: kept ${after(lang)}, expected ~$expected")
    }
    // deterministic: same keep-set after repartition
    val again = Sampling.sqrtTemperatureMix(df.repartition(7), col("lang"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(again === out.select("doc_id").as[Long].collect().toSet)
  }

  test("labelCentroids: matches per-component mean within quantization") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f), 0),
      (2L, Array(3.0f, 4.0f), 0),
      (3L, Array(10.0f, 20.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(df, col("label"), col("embedding"))
      .select("label", "pos", "centroid").as[(Int, Int, Double)].collect()
      .map { case (l, p, c) => (l, p) -> c }.toMap
    assert(math.abs(out((0, 0)) - 2.0) < 1e-6)
    assert(math.abs(out((0, 1)) - 1.0) < 1e-6)
    assert(math.abs(out((1, 0)) - 10.0) < 1e-6)
    assert(math.abs(out((1, 1)) - 20.0) < 1e-6)
    // partitioning-invariant (fixed-point sums commute)
    val again = Similarity.labelCentroids(df.repartition(5), col("label"), col("embedding"))
      .select("label", "pos", "centroid").as[(Int, Int, Double)].collect()
      .map { case (l, p, c) => (l, p) -> c }.toMap
    assert(again === out, "centroids must be bit-identical under repartition")
  }

  test("contaminationScore: full, partial and zero overlap") {
    import graft.operators.Dedup
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // identical: 4/4 trigrams
      (2L, "alpha beta gamma delta nine ten eleven"),    // shares 2 of 5 trigrams
      (3L, "one two three four five six")).toDF("doc_id", "text") // disjoint
    val out = Dedup.contaminationScore(docs, col("text"), col("doc_id"),
        bench, col("text"), n = 3)
      .select("doc_id", "n_ngrams", "n_contaminated")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((4L, 4L)))
    assert(out(2L) === ((5L, 2L)))
    assert(out(3L) === ((4L, 0L)))
    graft.operators.OpCache.releaseAll()
  }

  test("lexicalFamiliarity: mean df instance-weighted, OOV below minDf") {
    val d = Seq(
      (1L, "cat cat dog"), // cat df=2, dog df=2 → mean (2+2+2)/3=2, oov 0
      (2L, "cat dog rare"), // rare df=1 → oov 1/3
      (3L, "")              // empty → zeros
    ).toDF("doc_id", "text")
    val out = Chunking.lexicalFamiliarity(d, col("text"), col("doc_id"), minDf = 2)
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 2.0, 0.0),
      (2L, 3L, (2.0 + 2.0 + 1.0) / 3, 1.0 / 3),
      (3L, 0L, 0.0, 0.0)))
  }

  test("numericHistogram: bucket edges and clamping") {
    val df = Seq(0.0, 0.5, 9.99, 10.0, 25.0, 99.99, 100.0, -1.0).toDF("x")
    val out = StatsOp.numericHistogram(df, col("x"), lo = 0.0, hi = 100.0, buckets = 10)
      .select("bucket", "lo_edge", "hi_edge", "cnt")
      .as[(Int, Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    // -1 and 100.0 are out of [0,100); 0.0,0.5,9.99 → bucket 0;
    // 10.0 → bucket 1; 25.0 → bucket 2; 99.99 → bucket 9
    assert(out(0) === ((0, 0.0, 10.0, 3L)))
    assert(out(1) === ((1, 10.0, 20.0, 1L)))
    assert(out(2) === ((2, 20.0, 30.0, 1L)))
    assert(out(9) === ((9, 90.0, 100.0, 1L)))
    assert(out.values.map(_._4).sum === 6L)
  }

  test("stripBoilerplate: per-source line df, position-ordered rebuild") {
    import graft.operators.Chunking
    // "footer" repeats in 3 docs of src A (df>=3 → stripped), but only
    // once in src B (kept there); doc 4 is all boilerplate
    val docs = Seq(
      (1L, "A", "alpha\nfooter\nbeta"),
      (2L, "A", "gamma\nfooter"),
      (3L, "A", "footer\ndelta"),
      (4L, "A", "footer"),
      (5L, "B", "epsilon\nfooter")).toDF("doc_id", "src", "text")
    val out = Chunking.stripBoilerplate(docs, col("text"), col("doc_id"),
        col("src"), minDf = 3)
      .select("doc_id", "text_clean", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === (("alpha\nbeta", 2L, 1L)))
    assert(out(2L) === (("gamma", 1L, 1L)))
    assert(out(3L) === (("delta", 1L, 1L)))
    assert(out(4L) === (("", 0L, 1L)), "all-boilerplate doc survives empty")
    assert(out(5L) === (("epsilon\nfooter", 2L, 0L)),
      "same line in another source is content there")
  }

  test("gopherFeatures: hand-checked rules on crafted docs") {
    import graft.TextAnalysisCols
    val longGood = (Seq.fill(30)("the quick brown fox runs") :+ "of and that have")
      .mkString(" ") // 154 words, all alpha, 5 stopwords
    val bullets = "- one two three.\n- four five six.\n- seven eight nine."
    val docs = Seq(
      (1L, longGood), (2L, bullets), (3L, ""), (4L, "# # # # tiny")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +: TextAnalysisCols.gopherFeatures(col("text")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("gopher_keep"), "long clean doc passes")
    assert(out(1L).getAs[Long]("n_words") === 154L)
    assert(out(1L).getAs[Long]("n_stopwords") >= 2L)
    assert(out(2L).getAs[Double]("frac_lines_bullet") === 1.0)
    assert(!out(2L).getAs[Boolean]("gopher_keep"), "all-bullet doc fails")
    assert(out(3L).getAs[Long]("n_words") === 0L)
    assert(out(3L).getAs[Double]("mean_word_len") === 0.0)
    assert(out(4L).getAs[Double]("symbol_ratio") === 0.8)
    assert(!out(4L).getAs[Boolean]("gopher_keep"))
    // scan-side only: no exchange in the feature plan
    assert(!docs.select(TextAnalysisCols.gopherFeatures(col("text")): _*)
      .queryExecution.executedPlan.toString.contains("Exchange"),
      "gopher features must not shuffle")
  }

  test("gopherRepFeatures: run-fold equals hand counts, ties break to larger bigram") {
    import graft.TextAnalysisCols
    val docs = Seq(
      // 4 lines, "dup line" twice (8 chars dup beyond first); text len 25
      (1L, "dup line\ndup line\nxx\nyyyy"),
      // "b c" and "a b" both occur twice -> tie, "b c" (larger) wins
      (2L, "a b c a b c"),
      (3L, "")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +: TextAnalysisCols.gopherRepFeatures(col("text")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_lines") === 4L)
    assert(out(1L).getAs[Double]("frac_dup_lines") === 0.25)
    assert(out(1L).getAs[Double]("frac_chars_dup_lines") === 8.0 / 25.0)
    assert(out(2L).getAs[String]("top_bigram") === "b c")
    assert(out(2L).getAs[Long]("top_bigram_count") === 2L)
    assert(out(3L).getAs[String]("top_bigram") === "")
    assert(out(3L).getAs[Double]("frac_chars_dup_lines") === 0.0)
    assert(out(3L).getAs[Boolean]("rep_keep"))
    // map-side only
    assert(!docs.select(TextAnalysisCols.gopherRepFeatures(col("text")): _*)
      .queryExecution.executedPlan.toString.contains("Exchange"),
      "repetition features must not shuffle")
  }

  test("gopherRepFeatures: sorted-run folds agree with a naive model on 200 random docs") {
    import graft.TextAnalysisCols
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "dd", "eee", "ffff")
    def randDoc(): String =
      (0 until rnd.nextInt(6)).map(_ =>
        Vector.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
        .mkString("\n")
    // replicate Spark semantics exactly: trim strips ONLY 0x20 and
    // split keeps trailing empties (limit -1)
    def trimSp(s: String) = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def model(t: String): (Long, Long, Long, String, Long) = {
      val lines = t.split("\n", -1)
      val dupLines = lines.length - lines.distinct.length
      val dupChars = lines.groupBy(identity).values
        .map(g => (g.length - 1).toLong * g.head.length).sum
      val tl = trimSp(t.toLowerCase)
      val words = if (tl.isEmpty) Array.empty[String] else tl.split("\\s+", -1)
      val bigrams =
        if (words.length < 2) Array.empty[String]
        else words.sliding(2).map(_.mkString(" ")).toArray
      val (tb, tc) =
        if (bigrams.isEmpty) ("", 0L)
        else {
          val counts = bigrams.groupBy(identity).map { case (k, v) => k -> v.length }
          val maxC = counts.values.max
          (counts.filter(_._2 == maxC).keys.max, maxC.toLong)
        }
      (lines.length.toLong, dupLines.toLong, dupChars, tb, tc)
    }
    val docs = (1 to 200).map(i => (i.toLong, randDoc()))
    val out = docs.toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysisCols.gopherRepFeatures(col("text")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, t) =>
      val (nL, dupL, dupC, tb, tc) = model(t)
      val r = out(id)
      assert(r.getAs[Long]("n_lines") === nL, s"doc $id: ${t.replace("\n", "⏎")}")
      assert(r.getAs[Double]("frac_dup_lines") === dupL.toDouble / nL, s"doc $id")
      if (t.nonEmpty)
        assert(r.getAs[Double]("frac_chars_dup_lines") === dupC.toDouble / t.length, s"doc $id")
      assert(r.getAs[String]("top_bigram") === tb, s"doc $id: ${t.replace("\n", "⏎")}")
      assert(r.getAs[Long]("top_bigram_count") === tc, s"doc $id")
    }
  }

  test("c4Clean: line rules, junk lines, doc-level drops, rebuild order") {
    import graft.operators.Chunking
    val docs = Seq(
      (1L, "No punct preview\nThis line is kept.\nTiny.\nAnother kept line!\nenable javascript today."),
      (2L, "contains lorem ipsum somewhere\nThis line is kept."),
      (3L, "code { snippet\nThis line is kept."),
      (4L, "nothing survives here")).toDF("doc_id", "text")
    val out = Chunking.c4Clean(docs, col("text"), col("doc_id"))
      .select("doc_id", "text_clean", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet === Set(1L),
      "lorem-ipsum and brace docs drop whole; zero-kept docs drop")
    assert(out(1L) === (("This line is kept.\nAnother kept line!", 2L, 3L)))
  }

  test("sentences: boundary split keeps punctuation, positions in order") {
    import graft.operators.Chunking
    val d = Seq(
      (1L, "One two. Three four! Five six? tail"),
      (2L, "no boundaries here"),
      (3L, "Ends exactly. ")).toDF("doc_id", "text")
    val out = Chunking.sentences(d, col("text"), col("doc_id"))
      .select("doc_id", "sent_id", "sentence")
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    assert(out(1L) === Seq("One two.", "Three four!", "Five six?", "tail"))
    assert(out(2L) === Seq("no boundaries here"))
    assert(out(3L) === Seq("Ends exactly.", ""), "trailing boundary yields an empty tail")
    // scan-side only: no shuffle
    assert(!Chunking.sentences(d, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("keyHistogram: ranks by count desc with exact shares") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(1)("c"))
      .toDF("k")
    val out = StatsOp.keyHistogram(df, col("k"), topN = 2)
      .select("key", "cnt", "share", "rank")
      .as[(String, Long, Double, Int)].collect().sortBy(_._4)
    assert(out.toSeq === Seq(("a", 6L, 0.6, 1), ("b", 3L, 0.3, 2)))
    graft.operators.OpCache.releaseAll()
  }
}
