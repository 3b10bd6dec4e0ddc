package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  /** Corpus with planted dups: 1≈2 (one word changed), 3=4 exact, 5 unrelated. */
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the red barn today"),
    (2L, "the quick brown fox jumps over the lazy cat near the red barn today"),
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "unrelated short text")).toDF("doc_id", "text")

  /** Exact Jaccard over 3-shingles, computed naively for the oracle. */
  private def jaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(s: String) = s.toLowerCase.trim.split("\\s+").sliding(k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out(3L) === 2L)      // 3 and 4 collapse, min id kept
    assert(out.size === 4)      // 5 rows -> 4 distinct contents
  }

  test("dupNgramCoverage: instance fractions, short docs score zero") {
    val d = Seq(
      (1L, "a b c d e f"),  // 5-grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),  // 5-grams: "a b c d e", "b c d e x"
      (3L, "z z")           // too short: no 5-grams
    ).toDF("doc_id", "text")
    val out = Dedup.dupNgramCoverage(d, col("text"), col("doc_id"))
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    // "a b c d e" occurs in docs 1 and 2 → each doc has 1 of its 2
    // instances duplicated; doc 3 has no ngrams at all
    assert(out === Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 0L, 0L, 0.0)))
  }

  test("topSpans: planted repeated window tops the report with exact counts") {
    val boiler = "one two three four five six seven eight"
    val d = Seq(
      (1L, s"$boiler alpha beta"),
      (2L, s"prefix $boiler"),
      (3L, s"$boiler"),
      (4L, "totally different words with no eight gram repeats at all"))
      .toDF("doc_id", "text")
    val top = Dedup.topSpans(d, col("text"), col("doc_id"), w = 8, k = 3)
      .orderBy(col("n_inst").desc, col("span"))
      .as[(String, Long, Long)].collect()
    assert(top.head === ((boiler, 3L, 3L)),
      s"the planted window must lead with 3 instances in 3 docs, got ${top.head}")
  }

  test("dedupKeepBest: longest member of each cluster survives, singletons pass") {
    val d = Seq(
      (1L, "short", 10.0), (2L, "longer text", 20.0), (3L, "longest of all", 30.0),
      (4L, "unrelated", 5.0), (5L, "also here", 7.0)).toDF("doc_id", "text", "q")
    // planted pair graph: {1,2,3} one cluster via 1-2, 2-3; 4 and 5 untouched
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupKeepBestClusters(d, col("doc_id"), col("q"),
        Dedup.duplicateClusters(pairs))
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(3L, 4L, 5L),
      s"cluster {1,2,3} must survive through its best member only, got $out")

    // tie on score: lowest id wins
    val tied = Seq((1L, "a", 1.0), (2L, "b", 1.0)).toDF("doc_id", "text", "q")
    val out2 = Dedup.dedupKeepBestClusters(tied, col("doc_id"), col("q"),
        Dedup.duplicateClusters(Seq((1L, 2L)).toDF("doc_a", "doc_b")))
      .select("doc_id").as[Long].collect().toSet
    assert(out2 === Set(1L))
  }

  test("dedupKeepBest: re-ingested copies of the best member ALL survive") {
    // doc 3 (the cluster's best) arrives twice — the shard-re-ingest
    // case. Without per-id pre-aggregation each copy would get its own
    // row_number, one copy would rank rk>1, and the anti join would
    // drop BOTH copies — the cluster would lose all its rows.
    val d = Seq(
      (1L, "short", 10.0), (2L, "longer", 20.0),
      (3L, "best copy a", 30.0), (3L, "best copy b", 30.0)).toDF("doc_id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupKeepBestClusters(d, col("doc_id"), col("q"),
        Dedup.duplicateClusters(pairs))
      .select("doc_id").as[Long].collect()
    assert(out.toSet === Set(3L) && out.length === 2,
      s"both rows of best doc 3 must survive, got ${out.toSeq}")
  }

  test("dupNgramCoverage: a doc_id split across input rows is ONE document") {
    // re-ingested shard: doc 1 arrives twice with the same text — its
    // n-grams must not self-certify as corpus-repeated (document
    // frequency counts DISTINCT doc_ids, as the docstring promises),
    // and the output merges the rows: ONE row per doc, totals summed
    val d = Seq(
      (1L, "a b c d e f"),
      (1L, "a b c d e f"),
      (2L, "u v w x y z")).toDF("doc_id", "text")
    val out = Dedup.dupNgramCoverage(d, col("text"), col("doc_id"))
      .select("doc_id", "n_ngrams", "n_dup")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 4L, 0L), (2L, 2L, 0L)),
      s"split doc must merge to one row with summed totals, got $out")

    // and a split doc sharing n-grams with ANOTHER doc keeps
    // dup_frac measured against its FULL instance count (<= 1.0)
    val d2 = Seq(
      (1L, "a b c d e f"),
      (1L, "p q r s t u v w"),
      (2L, "a b c d e f")).toDF("doc_id", "text")
    val fr = Dedup.dupNgramCoverage(d2, col("text"), col("doc_id"))
      .select("doc_id", "n_ngrams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(fr === Seq((1L, 6L, 2L, 2.0 / 6.0), (2L, 2L, 2L, 1.0)),
      s"got $fr")
  }

  test("ngramJaccard == brute force on random corpora (index-prefix asymmetry: zero false negatives)") {
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 120).map(i => s"w$i")
    for (t <- Seq(0.5, 0.8)) {
      val base = (0 until 25).map { _ =>
        (1 to (8 + rnd.nextInt(30)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") }
      // planted near-dups: each doc gets a one-word-mutated twin, so
      // both same-size and cross-size pairs exercise the orientation
      val corpus = base.zipWithIndex.flatMap { case (txt, i) =>
        val w = txt.split(" ")
        Seq((i * 2L, txt),
          (i * 2L + 1, (w.dropRight(1) :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      }
      val got = Dedup.ngramJaccard(corpus.toDF("doc_id", "text"),
          col("text"), col("doc_id"), k = 3, threshold = t)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      def sh(s: String) = s.toLowerCase.trim.split("\\s+").sliding(3)
        .map(_.mkString(" ")).toSet
      val want = (for {
        (a, ta) <- corpus; (b, tb) <- corpus if a < b
        sa = sh(ta); sb = sh(tb)
        inter = sa.intersect(sb).size
        if inter.toDouble / (sa.size + sb.size - inter) >= t
      } yield (a, b, inter.toLong, sa.size.toLong, sb.size.toLong)).toSet
      assert(got == want,
        s"t=$t missed: ${want.diff(got)}, extra: ${got.diff(want)}")
      assert(want.nonEmpty, "fixture must plant pairs")
    }
  }

  test("ngram Jaccard finds the near pair with the exact score") {
    val out = Dedup.ngramJaccard(docs, col("text"), col("doc_id"), k = 3, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val expected = jaccard(
      "the quick brown fox jumps over the lazy dog near the red barn today",
      "the quick brown fox jumps over the lazy cat near the red barn today")
    assert(out((1L, 2L)) === expected)
    assert(out((3L, 4L)) === 1.0)
    assert(!out.contains((1L, 5L)))
  }

  test("candidate pre-flight: vocabulary-bounded corpus routes to banded LSH") {
    // DEGENERATE corpus (the r7 documents-x100 probe's failure shape):
    // 1200 docs of 30 words drawn from a 12-word vocabulary — every
    // 3-shingle is shared by hundreds of docs, so prefix filtering
    // has no selective hashes to stand on. Plus one planted near-dup
    // pair (ids 100000/100001) that must survive the route switch.
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    val base = (0 until 1200).map { d =>
      val words = (0 until 30).map(i => vocab((d * 31 + i * 17) % 12))
      (d.toLong, words.mkString(" "))
    }
    val nearA = (0 until 30).map(i => vocab((7 * 31 + i * 17) % 12)).mkString(" ")
    val planted = Seq((100000L, nearA + " omega"), (100001L, nearA + " omega"))
    val corpus = (base ++ planted).toDF("doc_id", "text")

    val stats = Dedup.shingleStats(corpus, col("text"), col("doc_id"))
    assert(stats.estCandidatesPerDoc(0.8) > Dedup.DefaultMaxCandidatesPerDoc,
      s"degenerate corpus must trip the pre-flight " +
        s"(est ${stats.estCandidatesPerDoc(0.8)})")

    // the auto path (switches to banded LSH) still finds the planted
    // exact pair, and agrees with the explicit LSH-verified operator
    val auto = Dedup.ngramJaccard(corpus, col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val lsh = Dedup.minhashLshVerified(corpus, col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(auto === lsh)
    assert(auto.exists { case (a, b, j) => a == 100000L && b == 100001L && j == 1.0 })

    // healthy corpus: the pre-flight stays far under the bound and
    // the exact prefix path runs (same result with the switch disabled)
    val healthyStats = Dedup.shingleStats(docs, col("text"), col("doc_id"))
    assert(healthyStats.estCandidatesPerDoc(0.8) < 16)
    val viaAuto = Dedup.ngramJaccard(docs, col("text"), col("doc_id"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val viaExact = Dedup.ngramJaccard(docs, col("text"), col("doc_id"),
        maxCandidatesPerDoc = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(viaAuto === viaExact)
  }

  test("PPJoin ceilings never exceed the exact rational bound at FP-hostile (t, sz) points") {
    // The raw FP ceil can land one ABOVE the exact rational ceiling
    // (t=0.84, sz=69: 2t/(1+t)·69 = 63 exactly, but the double product
    // computes 63.000000000000004 → ceil 64), shortening the indexed
    // prefix by one element — the false-negative direction. The
    // epsilon-guarded ceiling must never exceed the exact bound, and
    // may undershoot by at most one (an extra candidate, rescored
    // exactly — the safe direction).
    import org.apache.spark.sql.Column
    def exactCeil(num: BigDecimal, den: BigDecimal): Long =
      (num / den).setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
    val thresholds = Seq(0.5, 0.7, 0.8, 0.84, 0.86, 0.9, 0.95)
    val szs = (1 to 600).map(_.toLong)
    thresholds.foreach { t =>
      val td = BigDecimal(t.toString)
      val d = szs.toDF("sz")
      def guarded(c: Column): Column = ceil(c - c * lit(1e-12) - lit(1e-9))
      val got = d.select(col("sz"),
          guarded(lit(2 * t / (1 + t)) * col("sz")).as("half"),
          guarded(lit(t) * col("sz")).as("pref"),
          guarded(lit(t / (1.0 + t)) * (col("sz") + col("sz"))).as("mo"))
        .as[(Long, Long, Long, Long)].collect()
      got.foreach { case (sz, half, pref, mo) =>
        val exHalf = exactCeil(2 * td * sz, 1 + td)
        val exPref = exactCeil(td * sz, 1)
        val exMo = exactCeil(td * (2 * sz), 1 + td)
        assert(half <= exHalf && half >= exHalf - 1,
          s"index-prefix bound t=$t sz=$sz: got $half, exact $exHalf")
        assert(pref <= exPref && pref >= exPref - 1,
          s"prefix bound t=$t sz=$sz: got $pref, exact $exPref")
        assert(mo <= exMo && mo >= exMo - 1,
          s"minOverlap bound t=$t sz=$sz: got $mo, exact $exMo")
      }
      // the ADVICE repro points specifically: the raw FP ceil DID
      // exceed the exact bound there — prove the guard restores it
      val bad = Map((0.84, 69L) -> 63L, (0.9, 19L) -> 18L)
      bad.foreach { case ((bt, bsz), ex) =>
        if (bt == t) {
          val v = Seq(bsz).toDF("sz")
            .select(guarded(lit(2 * bt / (1 + bt)) * col("sz")))
            .as[Long].collect()(0)
          assert(v === ex, s"guarded ceiling at t=$bt sz=$bsz must be $ex")
        }
      }
    }
    // brute-force equality at the previously-uncovered thresholds
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 150).map(i => s"v$i")
    for (t <- Seq(0.84, 0.9)) {
      val base = (0 until 20).map { _ =>
        (1 to (40 + rnd.nextInt(60)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") }
      val corpus = base.zipWithIndex.flatMap { case (txt, i) =>
        val w = txt.split(" ")
        Seq((i * 2L, txt),
          (i * 2L + 1, (w.dropRight(1) :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      }
      val got = Dedup.ngramJaccard(corpus.toDF("doc_id", "text"),
          col("text"), col("doc_id"), k = 3, threshold = t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      def sh(s: String) = s.toLowerCase.trim.split("\\s+").sliding(3)
        .map(_.mkString(" ")).toSet
      val want = (for {
        (a, ta) <- corpus; (b, tb) <- corpus if a < b
        sa = sh(ta); sb = sh(tb)
        inter = sa.intersect(sb).size
        if inter.toDouble / (sa.size + sb.size - inter) >= t
      } yield (a, b)).toSet
      assert(want.nonEmpty, "fixture must plant pairs")
      assert(got === want, s"t=$t missed: ${want.diff(got)}, extra: ${got.diff(want)}")
    }
  }

  test("fingerprint pre-verification: identical pair set, strict upper-bound property") {
    // the 16-bit fingerprint stage must be output-invisible: same
    // (doc_a, doc_b, inter, jaccard) rows as the classic rescore, on
    // the real corpus at two thresholds
    val d = spark.read.parquet(sf() + "/documents.parquet")
    for (t <- Seq(0.5, 0.8)) {
      val sigs = Dedup.shingleSigs(d, col("text"), col("doc_id"), 3)
      val cand = Dedup.prefixCandidates(sigs, t, freqOrdered = true)
      def rows(pf: Boolean) =
        Dedup.rescore(cand, sigs, t, prefilter = pf)
          .select("doc_a", "doc_b", "inter", "jaccard")
          .as[(Long, Long, Long, Double)].collect().toSet
      val classic = rows(false)
      assert(classic.nonEmpty, s"corpus must contain pairs at t=$t")
      assert(rows(true) === classic, s"prefilter must be invisible at t=$t")
      graft.operators.OpCache.releaseAll()
    }
    // the kernel's upper-bound property: multiset fingerprint
    // intersection >= true distinct intersection, on adversarial
    // arrays (shared top-16 bits, duplicates after projection)
    import graft.functions.VectorExprs
    val a = Seq((1L << 48) + 1, (1L << 48) + 2, (5L << 48) + 7, (9L << 48) + 1)
    val b = Seq((1L << 48) + 2, (1L << 48) + 9, (5L << 48) + 7, (8L << 48) + 3)
    def fp(xs: Seq[Long]) = xs.map(x => (x >> 48).toShort).sorted.toArray
    val got = Seq((fp(a), fp(b))).toDF("fa", "fb")
      .select(VectorExprs.sortedShortIntersectCount(col("fa"), col("fb")))
      .as[Int].collect()(0)
    // true distinct intersection = 2 ((1<<48)+2 and (5<<48)+7); the
    // fingerprint multiset walk sees bits {1,1} vs {1,1} and {5} vs
    // {5} -> 3: an over-count, never an under-count
    assert(got === 3 && got >= 2)
  }

  test("incremental pre-flight: vocabulary-bounded corpus routes to banded cross candidates") {
    // Same degenerate corpus shape as the batch pre-flight test: 1200
    // docs over a 12-word vocabulary (12 distinct texts × 100 copies)
    // + a planted near-dup pair straddling the corpus/batch split.
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    val base = (0 until 1200).map { d =>
      val words = (0 until 30).map(i => vocab((d * 31 + i * 17) % 12))
      (d.toLong, words.mkString(" "))
    }
    val nearA = (0 until 30).map(i => vocab((7 * 31 + i * 17) % 12)).mkString(" ")
    val planted = Seq((100001L, nearA + " omega"), (100010L, nearA + " omega"))
    val all = base ++ planted
    val corpus = all.filter(_._1 % 10 != 0).toDF("doc_id", "text")
    val batch = all.filter(_._1 % 10 == 0).toDF("doc_id", "text")

    val stats = Dedup.shingleStats(all.toDF("doc_id", "text"),
      col("text"), col("doc_id"))
    assert(stats.estCandidatesPerDoc(0.8) > Dedup.DefaultMaxCandidatesPerDoc,
      "degenerate corpus must trip the incremental pre-flight")

    // the auto path (routes to banded cross candidates) matches the
    // exact prefix path run with the switch disabled — identical
    // batch-touching pair sets, including the cross-split planted pair
    val auto = Dedup.ngramJaccardIncremental(corpus, batch,
        col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val exact = Dedup.ngramJaccardIncremental(corpus, batch,
        col("text"), col("doc_id"), maxCandidatesPerDoc = 0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(exact.nonEmpty)
    assert(auto === exact,
      s"missed: ${exact.diff(auto).take(5)}, extra: ${auto.diff(exact).take(5)}")
    assert(auto.exists { case (a, b, j) => a == 100001L && b == 100010L && j == 1.0 })
    // explicit banded-incremental operator agrees (it IS the route target)
    val banded = Dedup.minhashLshVerifiedIncremental(corpus, batch,
        col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(banded === exact)
    graft.operators.OpCache.releaseAll()
  }

  test("chooseClusterStrategy: one_wave on the ordinary corpus, star_repair on the clique corpus") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    assert(Dedup.chooseClusterStrategy(d, col("text"), col("doc_id")) === "one_wave")
    // clique corpus: one 40-word page cloned 300×, plus 50 distinct
    // fillers — the regime where one-wave verification is C(300,2)
    // per family and the star collapses it at 2c
    val page = (1 to 40).map(i => s"p$i").mkString(" ")
    val clones = (0 until 300).map(i => (i.toLong, page))
    val fillers = (0 until 50).map(i =>
      (1000L + i, (1 to 40).map(j => s"f${i}_$j").mkString(" ")))
    val cliqued = (clones ++ fillers).toDF("doc_id", "text")
    assert(Dedup.chooseClusterStrategy(cliqued, col("text"), col("doc_id"))
      === "star_repair")
    graft.operators.OpCache.releaseAll()
  }

  test("ShingleStats artifact round-trips exactly and drives stats_path reuse") {
    val st = Dedup.shingleStats(docs, col("text"), col("doc_id"))
    val p = java.nio.file.Files.createTempFile("graft_shstats", ".csv").toString
    Dedup.saveShingleStats(p, st)
    val back = Dedup.loadShingleStats(p)
    assert(back.nDocs === st.nDocs)
    assert(back.sumDfSq === st.sumDfSq)         // exact (raw IEEE bits)
    assert(back.meanSize === st.meanSize)
    assert(back.frequent.toSeq === st.frequent.toSeq)

    // metadata stats_path: first plan computes + saves, second loads —
    // identical pairs either way
    java.nio.file.Files.delete(java.nio.file.Paths.get(p))
    val sfDocs = s"${sf()}/documents.parquet"
    def spec =
      s"""{"dataflows":[{"name":"ddflow",
         |  "sources":[{"name":"docs","path":"$sfDocs","format":"parquet"}],
         |  "transformations":[
         |    {"name":"dd","type":"dedup","params":{
         |      "input":"docs","output":"pairs_out","method":"ngram_jaccard",
         |      "mode":"pairs","stats_path":"$p"}}],
         |  "sinks":[]}]}""".stripMargin
    val first = graft.Dataflow
      .plan(spark, graft.meta.MetaLoader.loadString(spec).dataflow("ddflow"))
      .apply("pairs_out").select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
      "first run must persist the stats artifact")
    val second = graft.Dataflow
      .plan(spark, graft.meta.MetaLoader.loadString(spec).dataflow("ddflow"))
      .apply("pairs_out").select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    assert(first === second)
    assert(first.nonEmpty)
  }

  test("minhashLshVerified equals the exact prefix-filter join on real corpus") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val exact = Dedup.ngramJaccard(d, col("text"), col("doc_id"), k = 3, threshold = 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val verified = Dedup.minhashLshVerified(d, col("text"), col("doc_id"),
        k = 3, threshold = 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(verified === exact,
      s"missed: ${exact.diff(verified)}, extra: ${verified.diff(exact)}")
  }

  test("ngramJaccard length filter prunes size-incompatible candidates, not true pairs") {
    // doc 6 shares its 3 shingles with doc 7's long text but can never
    // reach j >= 0.5 on size alone — the length filter must drop it;
    // 1≈2 (true pair at j=0.87) must survive all candidate pruning
    val d = docs.unionAll(Seq(
      (6L, "alpha beta gamma delta epsilon"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon")).toDF("doc_id", "text"))
    val out = Dedup.ngramJaccard(d, col("text"), col("doc_id"), k = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)) && out.contains((3L, 4L)))
    assert(!out.contains((6L, 7L)))
  }

  test("simhash: identical docs at distance 0, near pair within 3, unrelated absent") {
    val out = Dedup.simhash(docs, col("text"), col("doc_id"), maxDistance = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(out((3L, 4L)) === 0)
    assert(out.get((1L, 2L)).forall(_ <= 3))      // 1 word of 14 differs
    assert(!out.contains((1L, 5L)) && !out.contains((3L, 5L)))
  }

  test("frequency-ordered prefixes cut candidates on a skewed corpus, same pairs") {
    // 40 docs sharing a 10-word stopword-ish run (8 shared shingles,
    // df=40 each) plus 2 unique words — pairwise jaccard 8/12 < 0.8,
    // so the TRUE answer is empty; with hash-ordered prefixes the
    // shared shingles flood the prefix join anyway
    val skewed = (1 to 40).map { i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa u$i v$i")
    }.toDF("doc_id", "text")
    val sigs = Dedup.shingleSigs(skewed, col("text"), col("doc_id"), 3)
    // fpFilter off: the raw prefix-join behavior the frequency order
    // exists to tame
    val candHash = Dedup.prefixCandidates(sigs, 0.8, freqOrdered = false,
      fpFilter = false).count()
    val candFreq = Dedup.prefixCandidates(sigs, 0.8, freqOrdered = true,
      fpFilter = false).count()
    assert(candHash > 0, "fixture should flood hash-ordered prefixes")
    assert(candFreq < candHash,
      s"freq ordering should shrink candidates: $candFreq vs $candHash")
    // the in-join fingerprint verification kills the whole flood at
    // the source — every pair here is provably below threshold (8/12)
    assert(Dedup.prefixCandidates(sigs, 0.8, freqOrdered = false).count() === 0,
      "fingerprint in-join filter must kill the below-threshold flood")
    // and on the real corpus the final pair set is identical either way
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val byHash = Dedup.ngramJaccard(d, col("text"), col("doc_id"), freqOrdered = false)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val byFreq = Dedup.ngramJaccard(d, col("text"), col("doc_id"), freqOrdered = true)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(byHash.nonEmpty && byFreq === byHash)
  }

  test("simhashVerified equals the exact prefix-filter join on real corpus") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val exact = Dedup.ngramJaccard(d, col("text"), col("doc_id"), k = 3, threshold = 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val verified = Dedup.simhashVerified(d, col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(verified === exact,
      s"missed: ${exact.diff(verified)}, extra: ${verified.diff(exact)}")
  }

  test("simhash pre-flight: signature-dense corpora route to the banded path; the default gate stays off the real corpus") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    // the real corpus sits far below the default route bound — the
    // driver-gate entries keep their native simhash blocking
    val sim = Dedup.simhashSignatures(d, col("text"), col("doc_id"))
    val perDoc = Dedup.simhashBucketEvalsPerDoc(sim, maxDistance = 12)
    assert(perDoc > 0 && perDoc < Dedup.DefaultSimhashEvalsPerDoc,
      s"corpus measures $perDoc evals/doc — the default gate would route")
    // a permuted-copy corpus (simhash is token-multiset-invariant, so
    // every copy collides EXACTLY) over a tight gate must route — and
    // the routed output is the banded path's, verified-jaccard contract
    val base = d.limit(30)
    val copies = (0 until 4).map(i => base
        .withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    val routed = Dedup.simhashVerified(copies, col("text"), col("doc_id"),
        maxCandidatesPerDoc = 10)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val banded = Dedup.minhashLshVerified(copies, col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(routed === banded, "routed output must BE the banded path's")
    // the incremental gate routes the same way
    val inc = copies.filter(col("doc_id") >= 3000000L)
    val corp = copies.filter(col("doc_id") < 3000000L)
    val routedInc = Dedup.simhashVerifiedIncremental(corp, inc,
        col("text"), col("doc_id"), maxCandidatesPerDoc = 10)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val bandedInc = Dedup.minhashLshVerifiedIncremental(corp, inc,
        col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(routedInc === bandedInc)
    graft.operators.OpCache.releaseAll()
  }

  test("wide-regime multi-index blocking (d=12) == brute-force Hamming pairs") {
    // the HmSearch-style regime (7 chunks, Hamming-1-ball probes) must
    // find EXACTLY the pairs a full n² popcount scan finds — the
    // pigeonhole + flip-enumeration no-false-negative proof, checked
    // end-to-end on the real corpus including pairs at distance == 12
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val sig = Dedup.simhashSignatures(d, col("text"), col("doc_id"))
      .select("doc_id", "simhash").as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- sig; (ib, sb) <- sig
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 12
    } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb))).toSet
    val blocked = Dedup.simhash(d, col("text"), col("doc_id"), maxDistance = 12)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty)
    assert(blocked === brute,
      s"missed: ${brute.diff(blocked)}, extra: ${blocked.diff(brute)}")
    graft.operators.OpCache.releaseAll()
  }

  test("incremental near-dup == full join restricted to batch-touching pairs") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val full = Dedup.ngramJaccard(d, col("text"), col("doc_id"))
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val inc = Dedup.ngramJaccardIncremental(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty)
    assert(inc === full, s"missed: ${full.diff(inc)}, extra: ${inc.diff(full)}")
  }

  test("prefix fingerprint cap: docs past 512 shingles stay exact under the bound") {
    // docs with > PrefixFpCap shingles carry a TRUNCATED fingerprint
    // and the walk+allowance bound — the pair set must still equal
    // the unfiltered prefix join's (soundness: no false negatives)
    val vocab = (0 until 700).map(i => s"tok$i")
    val a = vocab.take(600).mkString(" ")                          // 598 shingles
    val b = (vocab.take(580) ++ vocab.slice(620, 640)).mkString(" ") // j ≈ 0.93 vs a
    val c = vocab.take(600).reverse.mkString(" ")                  // disjoint shingles
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val sigs = Dedup.shingleSigs(corpus, col("text"), col("doc_id"), 3)
    val withFp = Dedup.prefixCandidates(sigs, 0.8, freqOrdered = false)
      .as[(Long, Long)].collect().toSet
    val noFp = Dedup.prefixCandidates(sigs, 0.8, freqOrdered = false,
        fpFilter = false)
      .as[(Long, Long)].collect().toSet
    assert(noFp.contains((1L, 2L)))
    // sound: every genuine pair the raw join finds survives the bound
    val genuine = Dedup.rescore(noFp.toSeq.toDF("doc_a", "doc_b"), sigs, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(genuine.subsetOf(withFp),
      s"capped bound dropped genuine pairs: ${genuine.diff(withFp)}")
    graft.operators.OpCache.releaseAll()
  }

  test("bandedLayout holds the candidate-miss contract at any threshold") {
    // t = 0.8 resolves to the historical 32×16 layout (oracles pinned
    // to it); lower thresholds GROW the signature instead of silently
    // weakening recall ((1−t²)^16 ≈ 1% miss at t = 0.5); the 64-band
    // clamp bounds cost for extreme thresholds
    assert(Dedup.bandedLayout(0.8) === ((32, 16)))
    assert(Dedup.bandedLayout(0.5) === ((98, 49)))
    assert(Dedup.bandedLayout(0.2) === ((128, 64)))
    // the contract itself: miss = (1 − t²)^bands ≤ 1e-6 wherever the
    // clamp is not binding
    for (t <- Seq(0.45, 0.55, 0.65, 0.75, 0.85, 0.95)) {
      val (_, bands) = Dedup.bandedLayout(t)
      if (bands < 64)
        assert(math.pow(1 - t * t, bands) <= 1e-6, s"miss too high at t=$t")
    }
  }

  test("banded fp-bound regime (>20k docs): LSH-verified pairs == exact prefix join") {
    // the band-join fpBlockCond payload only switches on past
    // FpBandDocsBound (20k of Scale.estimatedRows — a BYTES-derived
    // figure for in-memory ranges, ~13.7k/24k rows, hence the 48k
    // fixture: estimate ≈ 27.4k crosses the gate) — the catalog
    // corpora sit below it, so this fixture crosses deliberately:
    // 48k distinct docs (pseudo-random 12-word texts over an 8k
    // vocab) + 500 genuine near-dups (one word appended: 3-shingle
    // jaccard 10/11 ≈ 0.909)
    val text = (0 until 12).map(j =>
        concat(lit("w"), pmod(hash(col("doc_id") * 31 + j), lit(8000))))
    val base = spark.range(48000).select(col("id").as("doc_id"),
      concat_ws(" ", text: _*).as("text"))
    val dups = base.filter(col("doc_id") < 500)
      .select((col("doc_id") + 48000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val corpus = base.unionAll(dups)
    val exact = Dedup.ngramJaccard(corpus, col("text"), col("doc_id"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    graft.operators.OpCache.releaseAll()
    val banded = Dedup.minhashLshVerified(corpus, col("text"), col("doc_id"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    graft.operators.OpCache.releaseAll()
    assert(exact.size >= 500, s"fixture should plant >= 500 pairs, got ${exact.size}")
    assert(banded === exact,
      s"missed: ${exact.diff(banded).take(5)}, extra: ${banded.diff(exact).take(5)}")
    // incremental flavor through the same gate: the 500 dups arrive
    // as the batch; every planted pair touches the batch
    val inc = Dedup.minhashLshVerifiedIncremental(base, dups,
        col("text"), col("doc_id"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    graft.operators.OpCache.releaseAll()
    assert(inc === exact,
      s"missed: ${exact.diff(inc).take(5)}, extra: ${inc.diff(exact).take(5)}")
  }

  test("incremental simhash == full simhashVerified restricted to batch-touching pairs; re-delivery supersedes") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val full = Dedup.simhashVerified(d, col("text"), col("doc_id"))
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val inc = Dedup.simhashVerifiedIncremental(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty)
    assert(inc === full, s"missed: ${full.diff(inc)}, extra: ${inc.diff(full)}")
    graft.operators.OpCache.releaseAll()
    // a re-delivered id supersedes its corpus text: the planted pair
    // must score against the INCOMING version, not the stale one
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally unrelated words here entirely")).toDF("doc_id", "text")
    val batch = Seq((2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    val out = Dedup.simhashVerifiedIncremental(corpus, batch,
        col("text"), col("doc_id"), threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(out.contains((2L, 3L)) && out((2L, 3L)) === 1.0,
      s"re-delivered 2 must score as its incoming text: $out")
    graft.operators.OpCache.releaseAll()
  }

  test("duplicateClusters: transitive chains collapse to min-id components") {
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4 (no direct 1-3,
    // 1-4, 2-4 edges) and {10,11}; 20 absent from any pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // pairwise drop-doc_b would also drop 2,3,4 here — same outcome on
    // a chain, but cluster labels additionally expose the grouping;
    // check a star where pairwise dedup over-drops: (5,6),(5,7) keeps
    // only 5 under both, but cluster ids prove 6,7 belong to 5
    val star = Dedup.duplicateClusters(Seq((5L, 6L), (5L, 7L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(star === Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("nearDupComponents == duplicateClusters(ngramJaccard) on the real corpus") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    for (t <- Seq(0.8, 0.6)) {
      val full = Dedup.duplicateClusters(
          Dedup.ngramJaccard(d, col("text"), col("doc_id"), threshold = t))
        .as[(Long, Long)].collect().toMap
      val got = Dedup.nearDupComponents(d, col("text"), col("doc_id"),
          threshold = t, candidates = "prefix")
        .as[(Long, Long)].collect().toMap
      assert(got === full, s"threshold=$t diverged")
      // banded buckets verify the same genuine pairs here (the LSH
      // recall the dedup_minhash oracle certifies), so the labels
      // must coincide with the exact ones too
      val banded = Dedup.nearDupComponents(d, col("text"), col("doc_id"),
          threshold = t, candidates = "banded")
        .as[(Long, Long)].collect().toMap
      assert(banded === full, s"banded at threshold=$t diverged")
    }
    graft.operators.OpCache.releaseAll()
  }

  test("nearDupComponents repair phase: a bucket whose reps match nothing still yields exact components") {
    // Deterministic star-miss: TWO hubs own the min/max rep slots of
    // every shared bucket but are genuinely similar to nothing
    // (diluted with high-hash junk), while the two non-rep middle
    // members y~z are a genuine pair. The star seed verifies only
    // hub-touching pairs — all fail — so phase 1 yields NO edges; the
    // bucket has 4 members (> 3, so it enters the repair join) and
    // only the cross-label repair round can discover (y,z).
    // Hash-order is pinned by construction: roles are assigned from
    // the ACTUAL shingle-hash order (freqOrdered off keeps it the
    // raw order), so prefixes are exactly the sets the scenario needs.
    val pool = ('a' to 'z').map(c => s"w$c")
    val hashed = pool.toDF("w")
      .select(col("w"), element_at(
        graft.functions.TextHashExprs.shingleHashes(col("w"), 1), 1).as("h"))
      .as[(String, Long)].collect().sortBy(_._2).map(_._1)
    val Seq(h, p, q, r) = hashed.take(4).toSeq // 4 hash-smallest words
    val junk1 = hashed.takeRight(4)            // hash-largest junk
    val junk2 = hashed.dropRight(4).takeRight(4)
    val corpus = Seq(
      (1L, (Seq(h, p) ++ junk1).mkString(" ")), // min-hub: prefix = 4 smallest ⊇ {h,p}
      (2L, s"$h $p $q"),                        // y: prefix = {h,p}
      (3L, s"$h $p $r"),                        // z: prefix = {h,p}; j(y,z)=2/4=0.5
      (9L, (Seq(h, p) ++ junk2).mkString(" "))) // max-hub
      .toDF("doc_id", "text")
    // star-only (no repair) provably finds nothing — the fixture
    // genuinely requires the repair phase
    assert(Dedup.nearDupComponents(corpus, col("text"), col("doc_id"),
      k = 1, threshold = 0.5, candidates = "prefix", freqOrdered = false,
      maxRepairRounds = 0).isEmpty)
    val got = Dedup.nearDupComponents(corpus, col("text"), col("doc_id"),
        k = 1, threshold = 0.5, candidates = "prefix", freqOrdered = false)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 2L, 3L -> 2L), s"got $got")
    val full = Dedup.duplicateClusters(
        Dedup.ngramJaccard(corpus, col("text"), col("doc_id"), k = 1,
          threshold = 0.5, freqOrdered = false))
      .as[(Long, Long)].collect().toMap
    assert(got === full)
    graft.operators.OpCache.releaseAll()
  }

  test("duplicateClustersIncremental: batch fold == full recompute, incl. batch-doc bridges") {
    // old corpus: component {1,2}; docs 3 and 5 pair-free. Batch doc
    // 20 bridges 3 and 5 (similar to both, which are NOT similar to
    // each other) and doc 21 extends {1,2} — the two update shapes.
    val existing = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val newPairs = Seq((3L, 20L), (5L, 20L), (2L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClustersIncremental(existing, newPairs)
      .as[(Long, Long)].collect().toMap
    // full graph: {1,2,21} via (1,2),(2,21); {3,5,20} via the bridge
    assert(got === Map(1L -> 1L, 2L -> 1L, 21L -> 1L,
      3L -> 3L, 5L -> 3L, 20L -> 3L), s"got $got")
    // empty batch: labels carry through verbatim
    val idle = Dedup.duplicateClustersIncremental(existing,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(idle === Map(1L -> 1L, 2L -> 1L))
    // a batch doc with a SMALLER id relabels the component it joins
    val relabel = Dedup.duplicateClustersIncremental(
      Seq((7L, 7L), (9L, 7L)).toDF("doc_id", "cluster_id"),
      Seq((4L, 9L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(relabel === Map(4L -> 4L, 7L -> 4L, 9L -> 4L), s"got $relabel")
  }

  test("duplicateClusters: local union-find and distributed propagation agree") {
    // a mix of chains, stars and a larger ring so the component
    // structure is non-trivial; run the SAME edges through both paths
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (5L, 6L), (5L, 7L)) ++
      (100L until 140L by 2).map(i => (i, i + 2)) ++ // long chain
      Seq((139L, 100L))).toDF("doc_a", "doc_b")
    val local = Dedup.duplicateClusters(edges)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.duplicateClusters(edges, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local === dist, "local union-find must match the iterative propagation")
    // string ids exercise the lexicographic branch of the local path
    val s = Seq(("b", "c"), ("a", "b")).toDF("doc_a", "doc_b")
    val sLocal = Dedup.duplicateClusters(s).as[(String, String)].collect().toMap
    assert(sLocal === Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("operator-internal caches are tracked and fully released") {
    import graft.operators.OpCache
    OpCache.releaseAll()
    spark.catalog.clearCache() // clean slate (other specs may have cached)
    (1 to 2).foreach { _ =>
      Dedup.ngramJaccard(docs, col("text"), col("doc_id")).count()
    }
    assert(OpCache.trackedCount >= 2)
    OpCache.releaseAll()
    assert(OpCache.trackedCount === 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("simhash signature is deterministic") {
    val s1 = Dedup.simhashSignatures(docs, col("text"), col("doc_id"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val s2 = Dedup.simhashSignatures(docs, col("text"), col("doc_id"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(s1 === s2)
  }

  test("dedupParagraphs invariants on a random corpus: conservation, uniqueness, canonical position") {
    val rnd = new scala.util.Random(7)
    val paras = Vector("p0", "p1", "p2", "p3", "p4", "p5", "p6", "p7")
    val corpus = (1 to 60).map(i =>
      (i.toLong, (0 until 1 + rnd.nextInt(5))
        .map(_ => paras(rnd.nextInt(paras.size))).mkString("\n")))
    val df = corpus.toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df, col("text"), col("doc_id"))
      .select("doc_id", "text_clean", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // conservation: kept + dropped == the doc's line count
    corpus.foreach { case (id, t) =>
      val r = byId(id)
      assert(r._3 + r._4 === t.split("\n", -1).length.toLong, s"doc $id")
    }
    // uniqueness: across all cleaned docs, every distinct paragraph
    // of the corpus survives exactly once
    val keptAll = out.toSeq.filter(_._2.nonEmpty)
      .flatMap(r => r._2.split("\n", -1).map(p => (r._1, p)))
    val corpusDistinct = corpus.flatMap(_._2.split("\n", -1)).toSet
    assert(keptAll.map(_._2).sorted ===
      keptAll.map(_._2).distinct.sorted, "no paragraph may survive twice")
    assert(keptAll.map(_._2).toSet === corpusDistinct,
      "every distinct paragraph must survive somewhere")
    // canonical position: the survivor is the doc with the smallest id
    // among all docs containing that paragraph
    val firstDocOf = corpus.flatMap { case (id, t) => t.split("\n", -1).map(_ -> id) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).min }
    keptAll.foreach { case (id, p) =>
      assert(id === firstDocOf(p), s"'$p' survived in doc $id, first seen in ${firstDocOf(p)}")
    }
  }

  test("dedupParagraphs: first occurrence survives, cross- and intra-doc dups drop") {
    // "shared" appears in docs 1,2,3 → kept only at (1, pos 1);
    // doc 3 repeats "twice" internally → second copy dropped;
    // unique paragraphs untouched
    val d = Seq(
      (1L, "alpha\nshared\nbeta"),
      (2L, "gamma\nshared"),
      (3L, "shared\ntwice\ntwice")).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(d, col("text"), col("doc_id"))
      .select("doc_id", "text_clean", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === (("alpha\nshared\nbeta", 3L, 0L)))
    assert(out(2L) === (("gamma", 1L, 1L)))
    assert(out(3L) === (("twice", 1L, 2L)),
      "canonical is the smallest (doc_id, pos): doc 1 owns 'shared', doc 3 keeps first 'twice'")
    // duplicate set joins on md5 keys, never raw text
    val plan = Dedup.dedupParagraphs(d, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(para"),
      s"paragraph text must not be a shuffle key:\n$plan")
  }

  test("dedupSubstrings: repeated spans removed except canonical, overlaps union") {
    val span = "q w e r t y u i"            // the 8-token duplicated span
    val d = Seq(
      (1L, s"a b c $span d e"),             // canonical owner (doc 1, pos 3)
      (2L, s"x y $span z"),                 // copy -> span removed
      (3L, span),                           // fully duplicated doc -> ""
      (4L, s"n o p q r s t u v w"))         // no repeated window -> untouched
      .toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(d, col("text"), col("doc_id"), w = 8)
      .select("doc_id", "text_dedup", "n_tokens", "n_removed")
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((s"a b c $span d e", 13, 0)),
      "the canonical (min doc_id, pos) occurrence keeps its span")
    assert(out(2L) === (("x y z", 11, 8)))
    assert(out(3L) === (("", 8, 8)), "a fully-duplicated doc survives empty")
    assert(out(4L) === ((s"n o p q r s t u v w", 10, 0)))

    // overlapping repetition: a 10-token duplicated passage = three
    // overlapping repeated 8-windows; covered union removes it ONCE
    val long = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val d2 = Seq((1L, s"$long tail1"), (2L, s"head $long")).toDF("doc_id", "text")
    val o2 = Dedup.dedupSubstrings(d2, col("text"), col("doc_id"), w = 8)
      .select("doc_id", "text_dedup", "n_removed")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(o2(1L) === ((s"$long tail1", 0)))
    assert(o2(2L) === (("head", 10)), "union of overlapping windows covers the whole passage")

    // the corpus text is never a shuffle key and never shuffled:
    // exchanges carry md5 window ids and integer positions only
    val plan = Dedup.dedupSubstrings(d, col("text"), col("doc_id"), w = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(__text"),
      s"document text must not be a shuffle key:\n$plan")

    // the 64-bit compact-hash scale path is result-identical to the
    // oracle-matched md5 path (on real data and every planted case)
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    def rows(h64: Boolean) =
      Dedup.dedupSubstrings(docs, col("text"), col("doc_id"), w = 8, hash64 = h64)
        .select("doc_id", "text_dedup", "n_removed")
        .as[(Long, String, Int)].collect().toSet
    assert(rows(true) === rows(false))
    val planted = Dedup.dedupSubstrings(d, col("text"), col("doc_id"),
        w = 8, hash64 = true)
      .select("doc_id", "text_dedup").as[(Long, String)].collect().toMap
    assert(planted(2L) === "x y z" && planted(3L) === "")

    // null / empty text keeps its row with zero counts, not -1 or a crash
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "a b"))
      .toDF("doc_id", "text")
    val nOut = Dedup.dedupSubstrings(withNull, col("text"), col("doc_id"), w = 2)
      .select("doc_id", "n_tokens", "n_removed")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(nOut(1L) === ((0, 0)) && nOut(2L) === ((0, 0)) && nOut(3L) === ((2, 0)))
  }
}
