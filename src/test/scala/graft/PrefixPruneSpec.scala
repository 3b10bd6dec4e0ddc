package graft

import graft.operators.Snapshot

/** PREFIX-RANGE pruning (r16): `column LIKE 'prefix%'` served by the
  * per-file string min/max under a FORCED lexicographic (UTF-8)
  * compare — every match sits in `[prefix, nextPrefix)`. The
  * load-bearing case: digit prefixes, where the range path's
  * numeric-when-parseable rule would mis-order ("2" admits "100"
  * numerically but no "100" has prefix "2").
  */
class PrefixPruneSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String =
    freshDir(s"graft_prefixspec_$tag")

  test("digit prefixes prune LEXICOGRAPHICALLY: 'LIKE 2%' keeps the 2xx files, never the numeric range [2,3)") {
    val t = fresh("digits")
    val df = (100L to 999L).map(i => (i.toString, i, if (i % 2 == 0) "a" else "b"))
      .toDF("code_s", "id", "part")
    Snapshot.createMulti(spark, t, df, keys = Seq("code_s", "id"),
      partitionCols = Seq("part"), fileRanges = 8)
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.PrefixPred("code_s", "2")))
    assert(total >= 8 && kept.size < total, s"kept ${kept.size} of $total")
    val got = Snapshot.read(spark, t, Seq(Snapshot.PrefixPred("code_s", "2")))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (200L to 299L))
    // an absent prefix proves absence from the spans alone
    assert(Snapshot.prune(t, Seq(Snapshot.PrefixPred("code_s", "zz")))._1.isEmpty)
    // untracked columns refuse with the tracked list
    val e = intercept[IllegalArgumentException] {
      Snapshot.prune(t, Seq(Snapshot.PrefixPred("part", "a")))
    }
    assert(e.getMessage.contains("no stats tracked"))
  }

  test("nextPrefix edges: plain increment, surrogate-gap skip, max-code-point carry, all-max unbounded") {
    assert(Snapshot.nextPrefix("ab").contains("ac"))
    assert(Snapshot.nextPrefix("a퟿").contains("a"))
    val maxCp = new String(Array(Character.MAX_CODE_POINT), 0, 1)
    assert(Snapshot.nextPrefix("a" + maxCp).contains("b"))
    assert(Snapshot.nextPrefix(maxCp + maxCp).isEmpty)
    // the unbounded case stays sound: everything at/above the prefix keeps
    val t = fresh("maxcp")
    val df = Seq(("zz1", 1L, "p"), (maxCp + "x", 2L, "p"))
      .toDF("code_s", "id", "part")
    Snapshot.createMulti(spark, t, df, keys = Seq("code_s", "id"),
      partitionCols = Seq("part"))
    assert(Snapshot.read(spark, t, Seq(Snapshot.PrefixPred("code_s", maxCp)))
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("DSv2 StringStartsWith pushdown: SQL LIKE 'src1%' prunes — REAL io skipping with rejected files deleted") {
    import org.apache.spark.sql.sources.StringStartsWith
    import java.nio.file.{Files, Paths}
    val t = fresh("dsv2")
    val df = (100L to 999L).map(i => (i.toString, i, "p"))
      .toDF("code_s", "id", "part")
    Snapshot.createMulti(spark, t, df, keys = Seq("code_s", "id"),
      partitionCols = Seq("part"), fileRanges = 8)
    val m = Snapshot.readManifest(t, 1)
    val kept = graft.sources.GraftFilters.prune(t, 1,
      Array(StringStartsWith("code_s", "21"))).get
    assert(kept.nonEmpty && kept.size < m.files.size)
    val keptPaths = kept.map(_.path).toSet
    m.files.filterNot(f => keptPaths.contains(f.path))
      .foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
    spark.read.format("graft").load(t).createOrReplaceTempView("prefix_dsv2")
    val got = spark.sql(
      "SELECT id FROM prefix_dsv2 WHERE code_s LIKE '21%'")
      .as[Long].collect().sorted.toSeq
    assert(got == (210L to 219L))
    intercept[Exception] {
      spark.read.format("graft").load(t).collect()
    }
  }
}
