package graft

import graft.operators.Snapshot
import graft.functions.BloomExprs

/** TRIGRAM SUBSTRING INDEX (r16): per-file bloom filters over a
  * string column's code-point 3-grams, tracked as the `3g:<col>`
  * bloom spec — `LIKE '%needle%'` served by pruning to the files
  * whose filter admits EVERY 3-gram of the needle. The contract
  * under test: pruning is IO-only (result ≡ the bare contains
  * filter), absence is provable without IO, everything degrades
  * conservatively (short needles, pre-tracking files, null/short
  * text), and the tracking lifecycle (ALTER → compact backfill →
  * UNSET, SQL face included) matches the value-bloom contract.
  */
class TrigramIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String =
    freshDir(s"graft_trispec_$tag")

  // the needle lives only in the TOP id range (the range layout keys
  // files by id, so gram pruning has files to skip deterministically)
  private def docsDf = (1L to 300L).map { i =>
    val text =
      if (i > 290) s"alpha needle-in-haystack omega row $i"
      else if (i % 7 == 0) s"lorem ipsum dolor sit amet row $i"
      else s"plain filler content row $i"
    (i, text, if (i % 3 == 0) "a" else "b")
  }.toDF("id", "text", "part")

  test("create with 3g: spec indexes every file; pruneContains keeps exactly the gram-admitting files and readWhereContains ≡ the bare filter") {
    val t = fresh("create")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part",
      fileRanges = 4, bloomCols = Seq(Snapshot.TriPrefix + "text"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.bloomCols == Seq("3g:text"))
    assert(m.files.nonEmpty && m.files.forall(_.blooms.contains("3g:text")))
    // the top-range substring prunes to the files that might hold it
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "needle-in-haystack")))
    assert(total >= 4 && kept.size < total,
      s"kept ${kept.size} of $total")
    val got = Snapshot.read(spark, t, Seq(Snapshot.ContainsPred("text", "needle-in-haystack")))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (291L to 300L))
    // an absent substring is PROVEN absent — zero files open
    assert(Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "zq9xv7 never occurs")))._1.isEmpty)
    assert(Snapshot.read(spark, t, Seq(Snapshot.ContainsPred("text",
      "zq9xv7 never occurs"))).count() == 0)
    // a needle under 3 code points has no grams: keep all (and the
    // exact filter still serves the right rows)
    assert(Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "ab")))._1.size == total)
    assert(Snapshot.read(spark, t, Seq(Snapshot.ContainsPred("text", "om"))).count() == 10)
  }

  test("the two bloom kinds coexist in one tracking list and prune independently") {
    val t = fresh("both")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part",
      fileRanges = 4,
      bloomCols = Seq("text", Snapshot.TriPrefix + "text"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.bloomCols == Seq("text", "3g:text"))
    assert(m.files.forall(f =>
      f.blooms.contains("text") && f.blooms.contains("3g:text")))
    // the VALUE filter proves a full-text point lookup
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("text",
      Seq("plain filler content row 1")))).select("id").as[Long].head() == 1L)
    // the TRIGRAM filter serves the substring the value bloom cannot
    assert(Snapshot.read(spark, t, Seq(Snapshot.ContainsPred("text", "ipsum dolor")))
      .count() == (1L to 290L).count(_ % 7 == 0))
  }

  test("lifecycle: trackTrigram is conservative until compact backfills, exact after; untrackTrigram stops; non-string and renamed columns refuse") {
    val t = fresh("life")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part")
    // not yet tracked: a ContainsPred prune refuses with the pointer
    val e0 = intercept[IllegalArgumentException] {
      Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "ipsum")))
    }
    assert(e0.getMessage.contains("trackTrigram"))
    Snapshot.trackTrigram(spark, t, "text")
    // pre-backfill: files predate tracking, every file is kept
    // (conservative) and the result is still exact
    val (kept0, total0) = Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "ipsum")))
    assert(kept0.size == total0)
    assert(Snapshot.read(spark, t, Seq(Snapshot.ContainsPred("text", "ipsum"))).count() ==
      (1L to 290L).count(_ % 7 == 0))
    // the documented one-shot whole-table backfill: afterwards the
    // absence proof works — which REQUIRES every file to carry a
    // filter (pre-backfill the same prune kept everything)
    Snapshot.compact(spark, t, maxFilesPerPartition = 0)
    val (_, total1) = Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "ipsum")))
    assert(total1 > 0)
    assert(Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "zq9xv7 never")))._1.isEmpty)
    // history records the verbs
    val ops = Snapshot.history(t).map(_._2)
    assert(ops.exists(_.contains("track_trigram(text)")))
    Snapshot.untrackTrigram(spark, t, "text")
    intercept[IllegalArgumentException] {
      Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "ipsum")))
    }
    // refusals: non-string column, renamed column
    val eNum = intercept[IllegalArgumentException] {
      Snapshot.trackTrigram(spark, t, "id")
    }
    assert(eNum.getMessage.contains("string column"))
    Snapshot.renameColumn(spark, t, "text", "body")
    val eRen = intercept[IllegalArgumentException] {
      Snapshot.trackTrigram(spark, t, "body")
    }
    assert(eRen.getMessage.contains("renamed"))
  }

  test("SQL face: trigram.<col> TBLPROPERTIES at CREATE, SHOW CREATE round-trip, ALTER SET/UNSET; non-string refuses") {
    val root = fresh("sql")
    spark.conf.set("spark.sql.catalog.tricat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tricat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tricat.db")
    docsDf.createOrReplaceTempView("tri_src")
    spark.sql("""CREATE TABLE tricat.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part',
        'trigram.text'='131072,6')
      AS SELECT * FROM tri_src""")
    val dir = s"$root/db/docs"
    assert(Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
      .bloomCols == Seq("3g:text"))
    assert(Snapshot.prune(dir, Seq(Snapshot.ContainsPred("text", "zq9xv7 never")))._1.isEmpty)
    // SHOW CREATE TABLE renders the trigram family and re-executes
    val ddl = spark.sql("SHOW CREATE TABLE tricat.db.docs").head().getString(0)
    assert(ddl.contains("trigram.text"), ddl)
    spark.sql(ddl.replace("tricat.db.docs", "tricat.db.docs2"))
    assert(Snapshot.readManifest(s"$root/db/docs2",
      Snapshot.currentVersion(s"$root/db/docs2")).bloomCols == Seq("3g:text"))
    // ALTER SET starts tracking on a second table; UNSET stops
    spark.sql("""CREATE TABLE tricat.db.late USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part')
      AS SELECT * FROM tri_src""")
    spark.sql("ALTER TABLE tricat.db.late SET TBLPROPERTIES " +
      "('trigram.text'='131072,6')")
    val lateDir = s"$root/db/late"
    assert(Snapshot.readManifest(lateDir, Snapshot.currentVersion(lateDir))
      .bloomCols == Seq("3g:text"))
    spark.sql("ALTER TABLE tricat.db.late UNSET TBLPROPERTIES ('trigram.text')")
    assert(Snapshot.readManifest(lateDir, Snapshot.currentVersion(lateDir))
      .bloomCols.isEmpty)
    // a non-string trigram declaration refuses at CREATE
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE tricat.db.bad USING graft
        TBLPROPERTIES ('key'='id','partitionCol'='part','trigram.id'='')
        AS SELECT * FROM tri_src""")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("string column"))
  }

  test("the trigram spec's SOURCE column governs REPLACE survival, evolution bars, and the REPLACE drift gate") {
    val t = fresh("repl")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part",
      bloomCols = Seq(Snapshot.TriPrefix + "text"))
    // rename of the SOURCE column refuses while trigram-tracked (the
    // bare name never appears in bloomCols — the bar must see through
    // the spec, or a dangling 3g:text would prune against stale grams)
    val eRen = intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, t, "text", "body")
    }
    assert(eRen.getMessage.contains("bloom"))
    // REPLACE with the source column surviving KEEPS the index and
    // builds grams for the new files
    Snapshot.replaceTable(spark, t, docsDf.filter($"id" <= 100))
    val m2 = Snapshot.readManifest(t, Snapshot.currentVersion(t))
    assert(m2.bloomCols == Seq("3g:text"))
    assert(m2.files.nonEmpty && m2.files.forall(_.blooms.contains("3g:text")))
    assert(Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "zq9xv7 never")))._1.isEmpty)
    // the SQL REPLACE drift gate sees a LONE trigram property: a
    // differing declaration refuses instead of being silently ignored
    val root = fresh("replsql")
    spark.conf.set("spark.sql.catalog.tricat2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tricat2.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tricat2.db")
    docsDf.createOrReplaceTempView("tri_repl_src")
    spark.sql("""CREATE TABLE tricat2.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part')
      AS SELECT * FROM tri_repl_src""")
    val eRepl = intercept[IllegalArgumentException] {
      spark.sql("""REPLACE TABLE tricat2.db.docs USING graft
        TBLPROPERTIES ('key'='id','partitionCol'='part',
          'trigram.text'='131072,6')
        AS SELECT * FROM tri_repl_src""")
    }
    assert(eRepl.getMessage.contains("bloom tracking") &&
      eRepl.getMessage.contains("ALTER"))
  }

  test("DSv2 StringContains pushdown: LIKE '%needle%' through the connector prunes via the trigram index — REAL io skipping") {
    import org.apache.spark.sql.sources.StringContains
    import java.nio.file.{Files, Paths}
    val t = fresh("dsv2")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part",
      fileRanges = 4, bloomCols = Seq(Snapshot.TriPrefix + "text"))
    val m = Snapshot.readManifest(t, 1)
    val kept = graft.sources.GraftFilters.prune(t, 1,
      Array(StringContains("text", "needle-in-haystack"))).get
    assert(kept.nonEmpty && kept.size < m.files.size,
      s"kept ${kept.size} of ${m.files.size}")
    // physically delete every file the prune rejects: the LIKE read
    // must not touch them — pruning is real IO skipping, not advisory
    val keptPaths = kept.map(_.path).toSet
    m.files.filterNot(f => keptPaths.contains(f.path))
      .foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
    spark.read.format("graft").load(t).createOrReplaceTempView("tri_dsv2")
    val got = spark.sql(
      "SELECT id FROM tri_dsv2 WHERE text LIKE '%needle-in-haystack%'")
      .as[Long].collect().sorted.toSeq
    assert(got == (291L to 300L))
    // an unpruned full read must touch the deleted files and fail
    intercept[Exception] {
      spark.read.format("graft").load(t).collect()
    }
  }

  test("gram definition is shared and surrogate-safe: write-side filters admit exactly the driver-side grams, incl. non-BMP text") {
    // the two sides must hash IDENTICAL grams — a UTF-16 window would
    // split this text's surrogate pairs on one side only
    val emoji = "abc😀def😁ghi"
    assert(BloomExprs.trigramsOf(emoji).size ==
      emoji.codePointCount(0, emoji.length) - 2)
    assert(BloomExprs.trigramsOf("ab").isEmpty)
    val t = fresh("cp")
    val df = Seq((1L, emoji, "a"), (2L, "plain text here", "a"))
      .toDF("id", "text", "part")
    Snapshot.create(spark, t, df, key = "id", partitionCol = "part",
      bloomCols = Seq(Snapshot.TriPrefix + "text"))
    // a needle crossing the emoji boundary prunes to file(s) holding
    // it and the read returns the exact row
    val needle = "c😀d"
    assert(Snapshot.read(spark, t, Seq(Snapshot.ContainsPred("text", needle)))
      .select("id").as[Long].collect().toSeq == Seq(1L))
    assert(Snapshot.prune(t, Seq(Snapshot.ContainsPred("text", "c😂d")))._1.isEmpty)
  }
}
