package graft

import graft.operators.Snapshot
import org.apache.spark.sql.DataFrame

import java.sql.Timestamp

/** The r16 transform-family completion: `years(ts)` / `months(ts)` /
  * `hours(ts)` / `truncate(n, col)` hidden partitioning — for each,
  * the prune-time driver mapping must be EXACTLY the write-side
  * derivation, ranges must map monotonically, and anything unmappable
  * must keep all files (pruning is IO-only, never semantics). Also
  * pins the r15-ADVICE conservatism guards: bucket prune only maps
  * write-replayable runtime types, days() string bounds accept exact
  * ISO dates only, and the spec grammar refuses unbalanced parens.
  */
class TransformFamilySpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String =
    freshDir(s"graft_tfspec_$tag")

  private def tsDf: DataFrame = Seq(
    (1L, Timestamp.valueOf("2023-12-31 23:59:59"), "a"),
    (2L, Timestamp.valueOf("2024-01-15 06:30:00"), "b"),
    (3L, Timestamp.valueOf("2024-01-15 18:45:00"), "c"),
    (4L, Timestamp.valueOf("2024-03-01 00:00:00"), "d"),
    (5L, Timestamp.valueOf("2025-06-10 12:00:00"), "e"))
    .toDF("id", "ts", "payload")

  test("years(ts): derived year partitions; a timestamp range prunes to the matching years and reads exactly") {
    val t = fresh("years")
    Snapshot.createMulti(spark, t, tsDf,
      keys = Seq("id"), partitionCols = Seq("years(ts)"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.partitions.keySet == Set("2023", "2024", "2025"))
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-12-31 23:59:59"))))
    assert(total == m.files.size)
    assert(kept.map(_.path).toSet == m.partitions("2024").map(_.path).toSet)
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-12-31 23:59:59"))))
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L))
  }

  test("months(ts): derived yyyy-MM partitions; cross-month range keeps exactly the covered months") {
    val t = fresh("months")
    Snapshot.createMulti(spark, t, tsDf,
      keys = Seq("id"), partitionCols = Seq("months(ts)"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.partitions.keySet ==
      Set("2023-12", "2024-01", "2024-03", "2025-06"))
    val (kept, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-03-31 00:00:00"))))
    val want = (m.partitions("2024-01") ++ m.partitions("2024-03"))
      .map(_.path).toSet
    assert(kept.map(_.path).toSet == want)
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-03-31 00:00:00"))))
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L))
  }

  test("hours(ts): derived yyyy-MM-dd-HH partitions (hive-safe); an intra-day window prunes to its hours") {
    val t = fresh("hours")
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-10 05:59:59"), "a"),
      (2L, Timestamp.valueOf("2024-01-10 06:00:00"), "b"),
      (3L, Timestamp.valueOf("2024-01-10 06:45:00"), "c"),
      (4L, Timestamp.valueOf("2024-01-10 07:10:00"), "d"),
      (5L, Timestamp.valueOf("2024-01-10 18:00:00"), "e"),
      (6L, Timestamp.valueOf("2024-01-11 06:30:00"), "f"))
      .toDF("id", "ts", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("hours(ts)"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.partitions.keySet == Set("2024-01-10-05", "2024-01-10-06",
      "2024-01-10-07", "2024-01-10-18", "2024-01-11-06"))
    // [06:00, 08:00): hours 06 and 07 of the 10th only — the 11th's
    // hour 06 sorts AFTER the whole 10th (full-prefix lexicographic)
    val (kept, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-10 06:00:00"),
      Timestamp.valueOf("2024-01-10 07:59:59"))))
    val want = (m.partitions("2024-01-10-06") ++ m.partitions("2024-01-10-07"))
      .map(_.path).toSet
    assert(kept.map(_.path).toSet == want)
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-10 06:00:00"),
      Timestamp.valueOf("2024-01-10 07:59:59"))))
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L))
  }

  test("hours on a date-typed bound: the date maps to its midnight hour (the instant Spark compares it as)") {
    val t = fresh("hoursdate")
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-09 23:30:00"), "a"),
      (2L, Timestamp.valueOf("2024-01-10 00:10:00"), "b"),
      (3L, Timestamp.valueOf("2024-01-10 09:00:00"), "c"))
      .toDF("id", "ts", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("hours(ts)"))
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.BoundPred("ts",
      Some(java.time.LocalDate.parse("2024-01-10")), None)))
    val m = Snapshot.readManifest(t, 1)
    assert(kept.map(_.path).toSet ==
      (m.partitions("2024-01-10-00") ++ m.partitions("2024-01-10-09"))
        .map(_.path).toSet)
    assert(total == 3)
  }

  test("truncate(n, string): code-point prefix partitions; prefix ranges prune in UTF-8 order") {
    val t = fresh("truncstr")
    val df = Seq(
      (1L, "alpha", "x"), (2L, "alps", "y"), (3L, "beta", "z"),
      (4L, "al", "w"), (5L, "gamma", "v"))
      .toDF("id", "name", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("truncate(3,name)"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.partitions.keySet == Set("alp", "al", "bet", "gam"))
    // name BETWEEN "alpha" AND "bz": truncations "alp".."bz" — keeps
    // alp and bet, drops al (< "alp") and gam
    val (kept, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("name", "alpha", "bz")))
    val want = (m.partitions("alp") ++ m.partitions("bet")).map(_.path).toSet
    assert(kept.map(_.path).toSet == want)
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("name", "alpha", "bz")))
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
    // equality routes through the same mapping
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("name", Seq("alps"))))
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("truncate(n, integral): floor-to-width partitions (negatives floor down); integral ranges prune numerically") {
    val t = fresh("truncint")
    // v is NOT stats-tracked (key is id), so the partition layer's
    // exact keep-set is observable unmasked by the stats intersection
    val df = Seq((-17L, "a"), (-3L, "b"), (0L, "c"), (7L, "d"), (15L, "e"),
      (23L, "f"), (101L, "g")).zipWithIndex
      .map { case ((v, p), i) => (i.toLong, v, p) }
      .toDF("id", "v", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("truncate(10,v)"))
    val m = Snapshot.readManifest(t, 1)
    // floorMod semantics: -17 -> -20, -3 -> -10, 0/7 -> 0, 15 -> 10,
    // 23 -> 20, 101 -> 100
    assert(m.partitions.keySet == Set("-20", "-10", "0", "10", "20", "100"))
    // v BETWEEN 5 AND 21: floors 0..10 plus 20's file is dropped
    // (trunc(21) = 20 keeps it — 23 shares the bucket; conservative)
    val (kept, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("v", 5L, 21L)))
    val want = (m.partitions("0") ++ m.partitions("10") ++ m.partitions("20"))
      .map(_.path).toSet
    assert(kept.map(_.path).toSet == want)
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("v", 5L, 21L)))
      .select("v").as[Long].collect().toSet
    assert(got == Set(7L, 15L))
    // v BETWEEN 99 AND 150: NUMERIC compare is load-bearing — floor
    // bounds are [90, 150] and "100" < "90" LEXICOGRAPHICALLY, so a
    // string compare would wrongly drop the file holding 101
    val (kept99, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("v", 99L, 150L)))
    assert(kept99.map(_.path).toSet == m.partitions("100").map(_.path).toSet)
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("v", 99L, 150L)))
      .select("v").as[Long].collect().toSet == Set(101L))
    // negative range floors correctly: [-19, -2] keeps -20 and -10
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("v", -19L, -2L)))
      .select("v").as[Long].collect().toSet == Set(-17L, -3L))
  }

  test("truncate type-domain guard: a STRING bound against an integral-derived value space keeps all files") {
    val t = fresh("truncguard")
    // v is NOT stats-tracked (key is id), so the partition layer's
    // behavior is observable unmasked
    val df = Seq((1L, 7L, "a"), (2L, 15L, "b"), (3L, 101L, "c"))
      .toDF("id", "v", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("truncate(10,v)"))
    // a string bound would PREFIX-map ("15" stays "15") while the
    // write side FLOORED (15 -> "10") — mapping it would prune the
    // matching file, so the guard keeps everything
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("v", "15", "15")))
    assert(kept.size == total && total == 3)
    // and a Double bound is not write-replayable either
    val (keptD, totalD) = Snapshot.prune(t, Seq(Snapshot.RangePred("v", 15.0, 15.0)))
    assert(keptD.size == totalD)
    // the typed bound prunes to the one matching floor bucket
    val (keptL, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("v", 15L, 15L)))
    assert(keptL.size == 1)
  }

  test("truncate domain guard is SCHEMA-authoritative: an integral bound against a STRING source keeps all files (the numeric-looking-prefix trap)") {
    val t = fresh("truncdom")
    // a string source whose truncations all LOOK numeric: "21", "9" —
    // a component-parse heuristic would call this an integral source
    // and floor-map the bound, wrongly pruning the "21" file
    // (21 > truncLong(2,21)=20); the manifest schema says STRING, so
    // integral bounds keep everything
    // every value numeric-looking so the ANSI residual cast succeeds —
    // the schema is still the only sound way to know the domain
    val df = Seq((1L, "21", "a"), (2L, "9", "b"), (3L, "87", "c"))
      .toDF("id", "name", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("truncate(2,name)"))
    assert(Snapshot.readManifest(t, 1).partitions.keySet ==
      Set("21", "9", "87"))
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("name", 5L, 21L)))
    assert(kept.size == total && total == 3)
    // the exact read still serves the row a floor-mapping would lose
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("name", 5L, 21L)))
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // and a string bound maps (the matching domain)
    val (keptS, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("name", "21", "21")))
    assert(keptS.size == 1)
  }

  test("bucket domain guard is SCHEMA-authoritative: a STRING bound against a BIGINT source keeps all files (\"07\" casts equal to 7 but hashes apart)") {
    val t = fresh("bktdom")
    val df = (1L to 16L).map(i => (i, i, s"p$i")).toDF("id", "code", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("bucket(4,code)"))
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.InPred("code", Seq("7"))))
    assert(kept.size == total)
    // the residual filter still finds the row over the unpruned set
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("code", Seq("07"))))
      .select("id").as[Long].collect().toSeq == Seq(7L))
  }

  test("bucket prune type guard (r15 ADVICE): a Double lookup against a BIGINT bucket source keeps all files, and the exact read still matches") {
    val t = fresh("bktguard")
    // code is NOT stats-tracked (key is id), so the bucket layer's
    // keep-all is observable unmasked by the stats intersection
    val df = (1L to 32L).map(i => (i, i, s"p$i")).toDF("id", "code", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("bucket(4,code)"))
    val m = Snapshot.readManifest(t, 1)
    // 7.0 renders "7.0" — crc32("7.0") hashes differently than
    // crc32("7"), which is exactly the silent wrong-prune the guard
    // closes; conservative keep-all instead
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.InPred("code", Seq(7.0d))))
    assert(kept.size == total)
    // ...and the exact read over the unpruned set still matches
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("code", Seq(7.0d))))
      .select("id").as[Long].collect().toSeq == Seq(7L))
    // the typed lookup still prunes to one bucket
    val (keptL, totalL) = Snapshot.prune(t, Seq(Snapshot.InPred("code", Seq(7L))))
    assert(keptL.size < totalL)
    // Int vs Long render identically — Int lookups stay mapped
    val (keptI, totalI) = Snapshot.prune(t, Seq(Snapshot.InPred("code", Seq(7))))
    assert(keptI.size < totalI)
    assert(m.partitions.keySet.subsetOf(Set("0", "1", "2", "3")))
  }

  test("days() string bounds (r15 ADVICE): exact ISO dates map; date-SHAPED strings decline and keep all") {
    val t = fresh("daystr")
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-09 10:00:00"), "a"),
      (2L, Timestamp.valueOf("2024-01-10 10:00:00"), "b"),
      (3L, Timestamp.valueOf("2024-01-11 10:00:00"), "c"))
      .toDF("id", "ts", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("days(ts)"))
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("ts", "2024-01-10", "2024-01-10")))
    assert(kept.size == 1 && total == 3)
    // "2024-01-10-backup" must NOT be treated as 2024-01-10
    val (keptBad, totalBad) = Snapshot.prune(
      t, Seq(Snapshot.RangePred("ts", "2024-01-10-backup", "2024-01-10-backup")))
    assert(keptBad.size == totalBad)
    // timeKeyOf itself declines non-exact-ISO strings
    assert(Snapshot.timeKeyOf(Snapshot.DaysField("ts"),
      "2024-01-10-backup").isEmpty)
    assert(Snapshot.timeKeyOf(Snapshot.DaysField("ts"),
      "2024-01-10 10:00:00").isEmpty)
    assert(Snapshot.timeKeyOf(Snapshot.DaysField("ts"), "2024-01-10")
      .contains("2024-01-10"))
  }

  test("spec grammar: unbalanced parens refuse loudly (r15 VERDICT #7)") {
    val e1 = intercept[IllegalArgumentException] {
      Snapshot.PartField.splitSpecs("a),b")
    }
    assert(e1.getMessage.contains("unbalanced parens"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.PartField.splitSpecs("bucket(8,id")
    }
    assert(e2.getMessage.contains("unbalanced parens"))
    // balanced specs keep parsing exactly as before
    assert(Snapshot.PartField.splitSpecs("truncate(4,name), hours(ts)") ==
      Seq("truncate(4,name)", "hours(ts)"))
  }

  test("transform type validation: years/hours need timestamp/date, truncate needs string/integral — at create AND rewrite_partitioning") {
    val t = fresh("types")
    val df = Seq((1L, "abc", 1.5)).toDF("id", "name", "score")
    val e1 = intercept[IllegalArgumentException] {
      Snapshot.createMulti(spark, t, df,
        keys = Seq("id"), partitionCols = Seq("years(name)"))
    }
    assert(e1.getMessage.contains("timestamp/date"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.createMulti(spark, t, df,
        keys = Seq("id"), partitionCols = Seq("truncate(2,score)"))
    }
    assert(e2.getMessage.contains("string/integral"))
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("truncate(2,name)"))
    val e3 = intercept[IllegalArgumentException] {
      Snapshot.repartitionTable(spark, t, Seq("hours(score)"))
    }
    assert(e3.getMessage.contains("timestamp/date"))
    // and a legal respec onto the new transforms works end-to-end
    Snapshot.repartitionTable(spark, t, Seq("truncate(1,name)"))
    assert(Snapshot.readManifest(t, 2).partitions.keySet == Set("a"))
  }

  test("SQL PARTITIONED BY surface: hours(ts) and truncate(n, col) create through the catalog and round-trip the manifest spec") {
    val root = fresh("sqlxf")
    spark.conf.set("spark.sql.catalog.tfcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tfcat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tfcat.db")
    Seq((1L, Timestamp.valueOf("2024-01-10 06:30:00"), "alpha"),
      (2L, Timestamp.valueOf("2024-01-10 07:30:00"), "beta"))
      .toDF("id", "ts", "name").createOrReplaceTempView("tf_src")
    spark.sql("""CREATE TABLE tfcat.db.ev USING graft
      PARTITIONED BY (hours(ts), truncate(2, name))
      TBLPROPERTIES ('key' = 'id')
      AS SELECT * FROM tf_src""")
    val dir = s"$root/db/ev"
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(m.partitionCols == Seq("hours(ts)", "truncate(2,name)"))
    assert(m.partitions.keySet ==
      Set("2024-01-10-06~al", "2024-01-10-07~be"))
    // the connector renders the spec back as v2 transforms (DESCRIBE)
    val parts = spark.sql("DESCRIBE TABLE EXTENDED tfcat.db.ev")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(parts.contains("hours(ts)"))
    assert(parts.contains("truncate("))
  }
}
