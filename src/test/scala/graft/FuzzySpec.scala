package graft

import graft.operators.Fuzzy
import org.apache.spark.sql.functions._

/** Skew-guard contract of the blocked fuzzy join: grid-salting must
  * keep results IDENTICAL to the plain blocked join while bounding
  * the candidate-pair count any single shuffle key (= task) can see
  * on a deliberately hot block. */
class FuzzySpec extends SparkSpecBase {
  import spark.implicits._

  private val S = 8

  /** One pathological block: 600 near-identical names share the same
    * 4-char blocking prefix; 200 well-behaved rows spread elsewhere. */
  private lazy val skewed = {
    val hot = (0 until 600).map(i => (i.toLong, f"hotblock-name-$i%04d"))
    val ok = (0 until 200).map(i => (1000L + i, f"src$i%03d-name-$i%04d"))
    (hot ++ ok).toDF("id", "name")
  }

  private def blockFn(c: org.apache.spark.sql.Column) = substring(c, 1, 4)

  test("salted self fuzzy pairs are identical to the unsalted join") {
    val plain = Fuzzy.selfFuzzyPairs(skewed, col("id"), col("name"),
        blockFn, maxDist = 2)
      .select("id_a", "id_b", "dist").collect().map(_.toSeq).toSet
    val salted = Fuzzy.selfFuzzyPairs(skewed, col("id"), col("name"),
        blockFn, maxDist = 2, saltBuckets = S)
      .select("id_a", "id_b", "dist").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.nonEmpty, "skewed fixture must actually produce pairs")
  }

  test("salting bounds the per-task candidate product on a hot block") {
    // replicate the operator's cell assignment: bucket = xxhash64(id) mod S;
    // a cell (blk, u, v) sees n_u × n_v candidates. Unsalted, the hot
    // block's single task sees n² — salted, no cell may exceed ~(n/S)².
    val sides = skewed.select(blockFn(col("name")).as("blk"),
      pmod(xxhash64(col("id")), lit(S)).cast("int").as("bkt"))
    val perBucket = sides.groupBy("blk", "bkt").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val blocks = perBucket.keys.map(_._1).toSeq.distinct
    val maxCell = (for {
      blk <- blocks
      u <- 0 until S
      v <- 0 until S
    } yield perBucket.getOrElse((blk, u), 0L) * perBucket.getOrElse((blk, v), 0L)).max
    val hotN = 600L
    assert(maxCell <= 4 * (hotN / S) * (hotN / S),
      s"a single cell still sees $maxCell candidate pairs")
    assert(maxCell < hotN * hotN / 8,
      "salting must cut the single-task worst case by at least the grid factor")
  }

  test("jaroWinkler kernel: DuckDB-pinned reference values") {
    import graft.functions.StringSimExprs.{jaroWinkler => jw}
    def v(a: String, b: String): Double =
      org.apache.spark.unsafe.types.UTF8String.fromString(a) match {
        case ua => graft.functions.StringSimExprs.jaroWinkler(ua,
          org.apache.spark.unsafe.types.UTF8String.fromString(b))
      }
    // values observed from DuckDB jaro_winkler_similarity
    assert(math.abs(v("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(v("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(v("jones", "johnson") - 0.8323809523809523) < 1e-12)
    assert(v("", "abc") === 0.0)       // DuckDB: any empty side -> 0
    assert(v("", "") === 0.0)
    assert(v("abc", "abc") === 1.0)
    assert(v("ab", "ba") === 0.0)      // window 0: no same-position match
    // no boost below the 0.7 jaro threshold despite a shared prefix
    assert(math.abs(v("abqqqq", "abzzzz") - 0.5555555555555555) < 1e-12)
    // odd transposition count floors (integer halving, DuckDB semantics)
    assert(math.abs(v("Customer#000000911", "Customer#000001092") -
      ((0.943355146101521 * 0.6) + 0.4)) < 1e-6)
    // the Column API agrees with the static kernel
    val viaCol = Seq(("martha", "marhta")).toDF("a", "b")
      .select(jw(col("a"), col("b"))).first().getDouble(0)
    assert(math.abs(viaCol - 0.9611111111111111) < 1e-12)
  }

  test("selfSimilarityPairs: salted matches unsalted, sim filter applies") {
    val plain = Fuzzy.selfSimilarityPairs(skewed, col("id"), col("name"),
        blockFn, minSim = 0.9)
      .select("id_a", "id_b", "sim").collect().map(_.toSeq).toSet
    val salted = Fuzzy.selfSimilarityPairs(skewed, col("id"), col("name"),
        blockFn, minSim = 0.9, saltBuckets = S)
      .select("id_a", "id_b", "sim").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
    assert(plain.forall(_(2).asInstanceOf[Double] >= 0.9))
  }

  test("multiPassFuzzyPairs: union of passes recalls pairs each pass misses") {
    val names = Seq(
      (1L, "ABCDEF01"), (2L, "ABCDEF91"),  // differ at pos 7: prefix-6 pass sees
      (3L, "XBCDEF02"), (4L, "YBCDEF02"))  // differ at pos 1: suffix-4 pass sees
      .toDF("id", "name")
    val prefix = (k: org.apache.spark.sql.Column) => substring(k, 1, 6)
    val suffix = (k: org.apache.spark.sql.Column) => substring(k, -4, 4)
    def pairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pOnly = pairs(Fuzzy.selfFuzzyPairs(names, col("id"), col("name"), prefix, 1))
    val sOnly = pairs(Fuzzy.selfFuzzyPairs(names, col("id"), col("name"), suffix, 1))
    val multi = pairs(Fuzzy.multiPassFuzzyPairs(names, col("id"), col("name"),
      Seq(prefix, suffix), 1))
    assert(pOnly === Set((1L, 2L)))          // blind to the pos-1 typo
    assert(sOnly === Set((3L, 4L)))          // blind to the pos-7 typo
    assert(multi === Set((1L, 2L), (3L, 4L))) // union sees both
  }
}
