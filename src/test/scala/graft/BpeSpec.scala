package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE vocabulary induction: the Sennrich et al. reference example,
  * determinism, persistence, and scan-side encoding. */
class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  // the classic worked example (no end-of-word marker):
  // es(9) > st ties lex; then est(9); then lo(7) before ow; then low(7)
  private val hist = Array(("low", 5L), ("lower", 2L),
    ("newest", 6L), ("widest", 3L))

  test("trainOnHistogram reproduces the hand-derived merge sequence") {
    val merges = Bpe.trainOnHistogram(hist, 4)
    assert(merges === Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w"))
  }

  test("training stops when no pair repeats; determinism across orderings") {
    val merges = Bpe.trainOnHistogram(hist, 1000)
    // converges instead of spinning numMerges times
    assert(merges.length < 30)
    assert(Bpe.trainOnHistogram(hist.reverse, 1000) === merges,
      "histogram order must not affect the merge table")
  }

  test("end-to-end: train on a corpus, encode, persist, reload") {
    val corpus = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val merges = Bpe.trainMerges(corpus, col("text"), numMerges = 4)
    assert(merges === Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w"))

    // rank-priority encoding: 'lowest' (unseen word!) -> [low, est]
    val toks = Seq("Lowest newest").toDF("text")
      .select(Bpe.encode(col("text"), merges).as("t"))
      .first().getSeq[String](0)
    assert(toks === Seq("low", "est", "n", "e", "w", "est"))

    // persistence round-trip
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    Bpe.saveMerges(spark, merges, s"$tmp/merges")
    assert(Bpe.loadMerges(spark, s"$tmp/merges") === merges)
  }

  test("non-BMP tie-break: ties break by code point beyond the BMP") {
    // U+FFEE (BMP) sorts BEFORE U+10000 (supplementary) by code point,
    // but AFTER it by UTF-16 code unit (0xFFEE > 0xD800): a tie between
    // the two pairs distinguishes the orderings
    val bmp = "￮"
    val supp = new String(Character.toChars(0x10000))
    val corpus = (Seq.fill(5)(s"a$supp") ++ Seq.fill(5)(s"a$bmp")).mkString(" ")
    val df = Seq(corpus).toDF("text")
    assert(Bpe.trainMerges(df, col("text"), numMerges = 1) === Seq("a" -> bmp),
      "ties must break by CODE POINT order")
    // and a surrogate pair is ONE initial symbol, not two half-surrogates
    assert(Bpe.codePointSymbols(s"x$supp").toSeq === Seq("x", supp))
    // encoding applies the merge across the surrogate boundary intact
    val toks = Seq(s"a$supp").toDF("text")
      .select(Bpe.encode(col("text"), Seq("a" -> supp)).as("t"))
      .first().getSeq[String](0)
    assert(toks === Seq(s"a$supp"))
  }

  test("pinned catalog merges are what the trainer learns from the sf0.01 documents") {
    // provenance of Queries.BpePinnedMerges, the bpe_tokens serving table
    val docs = graft.sources.Readers.table(spark, sf("sf0.01"), "documents")
    assert(Bpe.trainMerges(docs, col("text"), 50) === Queries.BpePinnedMerges)
  }

  test("encoding empty/whitespace text yields an empty token array") {
    val merges = Seq("e" -> "s")
    val out = Seq("", "   ").toDF("text")
      .select(Bpe.encode(col("text"), merges).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out.forall(_.isEmpty))
  }
}
