package graft

import graft.operators.Snapshot


/** SQL-declared TRACKING (r16, VERDICT r15 ask #1): statsCols / bloom
  * / HLL tracking declared through TBLPROPERTIES at CREATE, and
  * started post-create through `ALTER TABLE … SET TBLPROPERTIES` —
  * the lifecycle contract: tracking is a metadata-only commit, takes
  * effect on each file's next rewrite, `compact` backfills the whole
  * table, and every consumer degrades conservatively (never wrongly)
  * on files that predate tracking.
  */
class SqlTrackingSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String =
    freshDir(s"graft_trkspec_$tag")

  private def docsDf = (1L to 200L).map(i =>
    (i, s"payload-$i", if (i % 2 == 0) "even" else "odd", (i % 37).toInt))
    .toDF("id", "text", "part", "code")

  test("CREATE TBLPROPERTIES tracking: manifest carries stats/bloom/HLL; bloom point lookups prune on the SQL-created table") {
    val root = fresh("create")
    spark.conf.set("spark.sql.catalog.trkcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.trkcat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS trkcat.db")
    docsDf.createOrReplaceTempView("trk_src")
    spark.sql("""CREATE TABLE trkcat.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part',
        'statsCols'='code','bloom.text'='65536,5','hll.code'='13')
      AS SELECT * FROM trk_src""")
    val dir = s"$root/db/docs"
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(m.statsCols == Seq("id", "code"))
    assert(m.bloomCols == Seq("text") && m.bloomBits == 65536 && m.bloomK == 5)
    assert(m.hllCols == Seq("code") && m.hllP == 13)
    // bloom point lookup on the uncorrelated text column prunes files
    val (kept, total) = Snapshot.prune(dir, Seq(Snapshot.InPred("text", Seq("payload-7"))))
    assert(total >= 2 && kept.size < total)
    assert(Snapshot.read(spark, dir, Seq(Snapshot.InPred("text", Seq("payload-7"))))
      .select("id").as[Long].collect().toSeq == Seq(7L))
    // an absent value proves absence through the blooms
    assert(Snapshot.prune(dir, Seq(Snapshot.InPred("text", Seq("nope"))))._1.isEmpty)
    // stats range skipping on the declared non-key column works
    assert(Snapshot.read(spark, dir, Seq(Snapshot.RangePred("code", 3, 3))).count() ==
      docsDf.filter($"code" === 3).count())
    // manifest-HLL distincts work from create (every file tracked)
    val nd = Snapshot.aggStats(spark, dir, Nil, distincts = Seq("code"))
      .select("nd_code").as[Long].head()
    assert(math.abs(nd - 37L) <= 2)
  }

  test("ALTER SET TBLPROPERTIES starts tracking: conservative until compact backfills, exact after; UNSET stops") {
    val t = fresh("alter")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part")
    val m1 = Snapshot.readManifest(t, 1)
    assert(m1.bloomCols.isEmpty && m1.hllCols.isEmpty)
    // no index on text yet: a point prune refuses (nothing to prune by)
    intercept[IllegalArgumentException] {
      Snapshot.prune(t, Seq(Snapshot.InPred("text", Seq("payload-7"))))
    }
    // start tracking: ONE metadata commit (zero files rewritten)
    Snapshot.trackBloom(spark, t, "text", bits = 65536, k = 5)
    Snapshot.trackHll(spark, t, "code", p = 12)
    Snapshot.setStatsCols(spark, t, Seq("code"))
    val m2 = Snapshot.readManifest(t, Snapshot.currentVersion(t))
    assert(m2.bloomCols == Seq("text") && m2.hllCols == Seq("code"))
    assert(m2.statsCols == Seq("id", "code"))
    assert(m2.files.map(_.path).toSet == m1.files.map(_.path).toSet)
    // pre-backfill: every consumer is CONSERVATIVE — bloom pruning
    // keeps the untracked files (forall on a missing bloom = keep)...
    val (keptPre, totalPre) = Snapshot.prune(t, Seq(Snapshot.InPred("text", Seq("payload-7"))))
    assert(keptPre.size == totalPre)
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("text", Seq("payload-7"))))
      .select("id").as[Long].collect().toSeq == Seq(7L))
    // ...range prune on the newly stats-tracked column keeps all...
    val (keptR, totalR) = Snapshot.prune(t, Seq(Snapshot.RangePred("code", 3, 3)))
    assert(keptR.size == totalR)
    // ...and the manifest-HLL aggregate REFUSES rather than undercount
    val e = intercept[IllegalArgumentException] {
      Snapshot.aggStats(spark, t, Nil, distincts = Seq("code")).collect()
    }
    assert(e.getMessage.contains("predates HLL tracking"))
    // compact(maxFilesPerPartition = 0) forces the whole-table
    // rewrite — the documented one-shot backfill
    Snapshot.compact(spark, t, maxFilesPerPartition = 0)
    val (keptPost, totalPost) = Snapshot.prune(t, Seq(Snapshot.InPred("text", Seq("payload-7"))))
    assert(keptPost.size < totalPost)
    assert(Snapshot.prune(t, Seq(Snapshot.InPred("text", Seq("nope"))))._1.isEmpty)
    val (keptR2, totalR2) = Snapshot.prune(t, Seq(Snapshot.RangePred("code", 3, 3)))
    assert(keptR2.size <= totalR2 && keptR2.nonEmpty)
    val nd = Snapshot.aggStats(spark, t, Nil, distincts = Seq("code"))
      .select("nd_code").as[Long].head()
    assert(math.abs(nd - 37L) <= 2)
    // UNSET: tracking stops as a metadata commit; the lookup surface
    // refuses again instead of serving stale blooms
    val vBefore = Snapshot.currentVersion(t)
    Snapshot.evolveSchemaAll(t, Seq(
      ("untrack_bloom(text)",
        (m: Snapshot.Manifest) => Snapshot.dropBloomXform(t, "text")(m))))
    assert(Snapshot.currentVersion(t) == vBefore + 1)
    intercept[IllegalArgumentException] {
      Snapshot.prune(t, Seq(Snapshot.InPred("text", Seq("payload-7"))))
    }
  }

  test("SQL ALTER TABLE face: SET starts tracking through the catalog, merge-written files track immediately, history records the verbs") {
    val root = fresh("sqlalter")
    spark.conf.set("spark.sql.catalog.trkcat2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.trkcat2.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS trkcat2.db")
    docsDf.createOrReplaceTempView("trk_src2")
    spark.sql("""CREATE TABLE trkcat2.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part')
      AS SELECT * FROM trk_src2""")
    spark.sql("ALTER TABLE trkcat2.db.docs SET TBLPROPERTIES " +
      "('bloom.text'='65536,5', 'statsCols'='code')")
    val dir = s"$root/db/docs"
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(m.bloomCols == Seq("text") && m.statsCols == Seq("id", "code"))
    // a post-ALTER merge writes TRACKED files (no compact needed for
    // the new bytes)
    Seq((500L, "payload-500", "even", 3))
      .toDF("id", "text", "part", "code").createOrReplaceTempView("trk_new")
    spark.sql("INSERT INTO trkcat2.db.docs SELECT * FROM trk_new")
    val m2 = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    val newFiles = m2.files.filterNot(f =>
      m.files.map(_.path).toSet.contains(f.path))
    assert(newFiles.nonEmpty && newFiles.forall(_.blooms.contains("text")))
    // the history op strings record the tracking verbs
    val ops = Snapshot.history(dir).map(_._2).mkString(";")
    assert(ops.contains("track_bloom(text)") &&
      ops.contains("set_stats_cols(code)"))
    // UNSET through SQL
    spark.sql("ALTER TABLE trkcat2.db.docs UNSET TBLPROPERTIES ('bloom.text')")
    assert(Snapshot.readManifest(dir,
      Snapshot.currentVersion(dir)).bloomCols.isEmpty)
  }

  test("idempotent ALTER: re-tracking an already-tracked column burns NO version (proven no-op commits skip)") {
    val t = fresh("idem")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part")
    Snapshot.trackBloom(spark, t, "text", bits = 65536, k = 5)
    val v = Snapshot.currentVersion(t)
    // the deployment-script re-run: identical declaration, no commit
    val st = Snapshot.trackBloom(spark, t, "text", bits = 65536, k = 5)
    assert(st.version == v && Snapshot.currentVersion(t) == v)
    val st2 = Snapshot.trackHll(spark, t, "code", p = 12)
    assert(st2.version == v + 1)
    assert(Snapshot.trackHll(spark, t, "code", p = 12).version == v + 1)
    assert(Snapshot.currentVersion(t) == v + 1)
  }

  test("idempotent statsCols re-ALTER burns NO version (the same proven-no-op contract as bloom/HLL)") {
    val t = fresh("idemstats")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part")
    Snapshot.setStatsCols(spark, t, Seq("code"))
    val v = Snapshot.currentVersion(t)
    // the deployment-script re-run: identical list, no commit
    val st = Snapshot.setStatsCols(spark, t, Seq("code"))
    assert(st.version == v && Snapshot.currentVersion(t) == v)
  }

  test("REPLACE TABLE accepts the table's own contract re-declared in another order; absent layout sub-properties inherit") {
    val root = fresh("replorder")
    spark.conf.set("spark.sql.catalog.trkcat6", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.trkcat6.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS trkcat6.db")
    docsDf.createOrReplaceTempView("trk_ord_src")
    spark.sql("""CREATE TABLE trkcat6.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part',
        'bloom.text'='65536,5',
        'layout'='zorder','fileRanges'='4','zorderKeys'='code')
      AS SELECT * FROM trk_ord_src""")
    // ALTER adds a second bloom: the manifest keeps INSERTION order
    // (text, code), not the name-sorted order trackingSpec builds
    spark.sql("ALTER TABLE trkcat6.db.docs SET TBLPROPERTIES " +
      "('bloom.code'='65536,5')")
    val dir = s"$root/db/docs"
    assert(Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
      .bloomCols == Seq("text", "code"))
    // same contract, different declaration order + only one layout
    // sub-property re-stated: must REPLACE, not refuse
    spark.sql("""REPLACE TABLE trkcat6.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part',
        'bloom.code'='65536,5','bloom.text'='65536,5','fileRanges'='4')
      AS SELECT * FROM trk_ord_src WHERE id <= 50""")
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(m.bloomCols.toSet == Set("text", "code"))
    assert(m.layout.mode == "zorder" && m.layout.fileRanges == 4 &&
      m.layout.zorderKeys == Seq("code"))
    assert(Snapshot.readLatest(spark, dir).count() == 50)
  }

  test("CREATE statsCols type gate matches ALTER's: an unsupported-type column refuses at CREATE instead of silently never tracking") {
    val root = fresh("ctype")
    spark.conf.set("spark.sql.catalog.trkcat4", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.trkcat4.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS trkcat4.db")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "p0"))
      .toDF("id", "ts", "part").createOrReplaceTempView("trk_ts_src")
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE trkcat4.db.bad USING graft
        TBLPROPERTIES ('key'='id','partitionCol'='part','statsCols'='ts')
        AS SELECT * FROM trk_ts_src""")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("numeric and string columns only"))
  }

  test("REPLACE TABLE: differing tracking/layout TBLPROPERTIES refuse (never silently dropped); matching ones inherit") {
    val root = fresh("repl")
    spark.conf.set("spark.sql.catalog.trkcat5", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.trkcat5.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS trkcat5.db")
    docsDf.createOrReplaceTempView("trk_repl_src")
    spark.sql("""CREATE TABLE trkcat5.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part',
        'bloom.text'='65536,5')
      AS SELECT * FROM trk_repl_src""")
    val dir = s"$root/db/docs"
    // a DIFFERING bloom sizing refuses with the ALTER pointer
    val e1 = intercept[IllegalArgumentException] {
      spark.sql("""REPLACE TABLE trkcat5.db.docs USING graft
        TBLPROPERTIES ('key'='id','partitionCol'='part',
          'bloom.text'='1024,3')
        AS SELECT * FROM trk_repl_src""")
    }
    assert(e1.getMessage.contains("bloom tracking") &&
      e1.getMessage.contains("ALTER"))
    // a differing layout refuses with the relayout pointer
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("""REPLACE TABLE trkcat5.db.docs USING graft
        TBLPROPERTIES ('key'='id','partitionCol'='part','fileRanges'='8')
        AS SELECT * FROM trk_repl_src""")
    }
    assert(e2.getMessage.contains("relayout"))
    // MATCHING properties (what SHOW CREATE TABLE emits) replace fine
    spark.sql("""REPLACE TABLE trkcat5.db.docs USING graft
      TBLPROPERTIES ('key'='id','partitionCol'='part',
        'bloom.text'='65536,5')
      AS SELECT * FROM trk_repl_src WHERE id <= 100""")
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(m.bloomCols == Seq("text") && m.bloomBits == 65536)
    assert(Snapshot.readLatest(spark, dir).count() == 100)
  }

  test("tracking refusals: unknown column, renamed column, disagreeing table-wide sizing, bad HLL precision") {
    val t = fresh("refuse")
    Snapshot.create(spark, t, docsDf, key = "id", partitionCol = "part")
    intercept[IllegalArgumentException] {
      Snapshot.trackBloom(spark, t, "nope")
    }
    intercept[IllegalArgumentException] {
      Snapshot.setStatsCols(spark, t, Seq("missing"))
    }
    intercept[IllegalArgumentException] {
      Snapshot.trackHll(spark, t, "code", p = 99)
    }
    // a renamed column's bytes live under the old physical name —
    // tracking it would read nothing; refuse with the reason
    Snapshot.renameColumn(spark, t, "text", "body")
    val eRen = intercept[IllegalArgumentException] {
      Snapshot.trackBloom(spark, t, "body")
    }
    assert(eRen.getMessage.contains("renamed"))
    // sizing is table-wide: a second bloom column cannot disagree
    Snapshot.trackBloom(spark, t, "part", bits = 1 << 16, k = 5)
    val eSz = intercept[IllegalArgumentException] {
      Snapshot.trackBloom(spark, t, "code", bits = 1 << 10, k = 3)
    }
    assert(eSz.getMessage.contains("table-wide"))
    // the CREATE face refuses disagreeing sizings up front too
    val root = fresh("refusecat")
    spark.conf.set("spark.sql.catalog.trkcat3", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.trkcat3.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS trkcat3.db")
    docsDf.createOrReplaceTempView("trk_src3")
    val eCat = intercept[Exception] {
      spark.sql("""CREATE TABLE trkcat3.db.bad USING graft
        TBLPROPERTIES ('key'='id','partitionCol'='part',
          'bloom.text'='65536,5','bloom.code'='1024,3')
        AS SELECT * FROM trk_src3""")
    }
    // the refusal may arrive wrapped by the CTAS exec node
    val msgs = Iterator.iterate(eCat: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("table-wide"))
  }
}
