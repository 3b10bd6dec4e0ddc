package graft

import graft.operators.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Merge-on-read deletion vectors ([[Snapshot.deleteWhereMor]]) and
  * manifest-only aggregates ([[Snapshot.aggStats]]). */
class SnapshotMorSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_morspec_$tag"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    p
  }

  /** 40 rows, 4 partitions, stats on id + score. */
  private def seedDf: DataFrame =
    spark.range(1, 41).select(col("id"),
      concat(lit("doc"), col("id")).as("payload"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      (col("id") * 10).as("score"))

  private def build(tag: String): String = {
    val t = fresh(tag)
    Snapshot.create(spark, t, seedDf, "id", "part",
      statsCols = Seq("score"), fileRanges = 4)
    t
  }

  private def rowsOf(df: DataFrame): Set[(Long, String, String, Long)] =
    df.select("id", "payload", "part", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  /** (relative path, md5) of every file under files/ EXCEPT _dv dirs
    * and write-sidecars — the immutable data-file fingerprint. */
  private def dataFileDigest(t: String): Map[String, String] = {
    val root = Paths.get(t)
    val walk = Files.walk(Paths.get(t, "files"))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> p)
      .filterNot { case (rel, p) =>
        rel.contains("/_dv/") || p.getFileName.toString.startsWith("_") ||
          p.getFileName.toString.startsWith(".") }
      .map { case (rel, p) =>
        rel -> MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString }
      .toMap
    finally walk.close()
  }

  test("MoR delete ≡ CoW delete, with ZERO data files written and every data byte untouched") {
    val cow = build("cow"); val mor = build("mor")
    val preds = Seq(("id", 10, 24))
    val before = dataFileDigest(mor)
    Snapshot.deleteWhere(spark, cow, preds)
    val st = Snapshot.deleteWhereMor(spark, mor, preds)
    assert(st.version == 2 && st.filesWritten == 0)
    assert(rowsOf(Snapshot.readLatest(spark, mor)) ==
      rowsOf(Snapshot.readLatest(spark, cow)),
      "merge-on-read must produce exactly copy-on-write's rows")
    assert(rowsOf(Snapshot.readLatest(spark, mor)) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 24)))))
    assert(dataFileDigest(mor) == before,
      "a MoR delete may not touch a single data-file byte")
    // the manifest re-points entries, it does not replace files
    val m2 = Snapshot.readManifest(mor, 2)
    val m1 = Snapshot.readManifest(mor, 1)
    assert(m2.files.map(_.path).toSet == m1.files.map(_.path).toSet)
    assert(m2.files.exists(_.dv.isDefined))
    assert(m2.logicalRows == 40 - 15 && m2.rows == 40)
  }

  test("vectors accumulate across MoR deletes; time travel and rollback serve each state") {
    val t = build("accum")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 19)))       // v2
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 15, 30)))       // v3 overlaps
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 30)))))
    assert(rowsOf(Snapshot.readAt(spark, t, 2)) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 19)))),
      "v2 must still serve only the first delete")
    assert(rowsOf(Snapshot.readAt(spark, t, 1)) == rowsOf(seedDf))
    Snapshot.rollback(spark, t, 2)                               // v4
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 19)))),
      "rollback must un-delete v3's extra rows (vectors are per-version)")
    assert(Snapshot.readManifest(t, 3).logicalRows == 40 - 21)
  }

  test("compact materializes the vectors: rows physically dropped, dv refs cleared, read unchanged") {
    val t = build("compact")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24)))
    val visible = rowsOf(Snapshot.readLatest(spark, t))
    val st = Snapshot.compact(spark, t, maxFilesPerPartition = 64)
    assert(st.filesWritten > 0, "dv'd partitions must compact even when not fragmented")
    val m = Snapshot.readManifest(t, st.version)
    assert(m.files.forall(_.dv.isEmpty), "compaction must clear every vector")
    assert(m.rows == m.logicalRows && m.rows == 25)
    assert(rowsOf(Snapshot.readLatest(spark, t)) == visible)
    assert(Snapshot.fsck(spark, t).isEmpty)
  }

  test("a merge after a MoR delete does not resurrect masked rows; CoW update applies the mask") {
    val t = build("merge")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24)))
    // upsert id 30 (same partitions as masked rows live in) — the
    // rewrite of affected partitions must keep ids 10-24 dead
    Snapshot.merge(spark, t,
      Seq((30L, "doc30x", "p2", 300L)).toDF("id", "payload", "part", "score"),
      Seq.empty[Long].toDF("id"))
    val got = rowsOf(Snapshot.readLatest(spark, t))
    assert(!got.exists(r => r._1 >= 10 && r._1 <= 24))
    assert(got.contains((30L, "doc30x", "p2", 300L)))
    // CoW update over a range straddling masked rows: masked rows stay
    // gone, surviving candidates update
    Snapshot.updateWhere(spark, t, Seq(("id", 1, 40)),
      Map("score" -> (col("score") + 1)))
    val upd = rowsOf(Snapshot.readLatest(spark, t))
    assert(!upd.exists(r => r._1 >= 10 && r._1 <= 24))
    assert(upd.filter(_._1 == 1L).head._4 == 11L)
  }

  test("fsck audits the vectors; vacuum keeps live ones and reaps expired ones") {
    val t = build("fsck")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24)))
    assert(Snapshot.fsck(spark, t).isEmpty, "dv'd table must fsck clean")
    // tamper: claim one more deleted row than the vector holds
    val m = Snapshot.readManifest(t, 2)
    val bad = m.copy(version = 3, parent = 2, op = "tamper",
      partitions = m.partitions.map { case (p, fs) => p -> fs.map(f =>
        f.dv.fold(f)(d => f.copy(dv = Some(d.copy(rows = d.rows + 1))))) })
    Snapshot.writeManifest(t, bad)
    assert(Snapshot.fsck(spark, t).exists(_.problem.contains("dv position count")))
    Snapshot.rollback(spark, t, 2) // v4: back to the honest manifest
    // compact (v5) materializes; vacuum keeping the tip only must reap
    // the now-unreferenced vector files
    Snapshot.compact(spark, t, maxFilesPerPartition = 64)
    Snapshot.vacuum(spark, t, retainLast = 1)
    val dvLeft = {
      val walk = Files.walk(Paths.get(t, "files"))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .count(_.toString.contains("/_dv/"))
      finally walk.close()
    }
    assert(dvLeft == 0, "expired deletion vectors must be vacuumed")
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 24)))))
  }

  test("vacuum retains vectors still referenced by retained versions") {
    val t = build("vacret")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24)))  // v2
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 30, 33)))  // v3
    Snapshot.vacuum(spark, t, retainLast = 2)               // keeps v2+v3
    assert(Snapshot.fsck(spark, t).isEmpty)
    assert(rowsOf(Snapshot.readAt(spark, t, 2)) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 24)))))
  }

  test("change feed algebra: a MoR commit's removed-minus-added IS the deleted rows") {
    val t = build("feed")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24)))
    val (removed, added) = Snapshot.changeSet(spark, t, 2)
    // removed = parent-visible rows of touched files; added = their
    // now-visible rows; the difference is exactly the deleted mass
    val net = rowsOf(removed) -- rowsOf(added)
    assert(net == rowsOf(seedDf.filter(col("id").between(10, 24))))
    assert((rowsOf(added) -- rowsOf(removed)).isEmpty,
      "a delete adds nothing")
  }

  test("deleteMorKeys: erasure by key list — bloom/stats-pruned scan, zero rewrites, absent keys free") {
    val t = fresh("keys")
    Snapshot.create(spark, t, seedDf, "id", "part",
      statsCols = Seq("score"), fileRanges = 4,
      bloomCols = Seq("id"), bloomBits = 1 << 12)
    val before = dataFileDigest(t)
    val st = Snapshot.deleteMorKeys(spark, t,
      Seq(3L, 17L, 24L, 999L).toDF("id")) // 999 absent
    assert(st.version == 2 && st.filesWritten == 0)
    assert(dataFileDigest(t) == before)
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!col("id").isin(3L, 17L, 24L))))
    assert(Snapshot.readManifest(t, 2).logicalRows == 37)
    // second erasure on a key sharing a file with a masked one: unions
    Snapshot.deleteMorKeys(spark, t, Seq(7L).toDF("id"))
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!col("id").isin(3L, 7L, 17L, 24L))))
    // empty key list: audit-only commit, no vector written
    val st3 = Snapshot.deleteMorKeys(spark, t, Seq.empty[Long].toDF("id"))
    assert(st3.rewrittenPartitions.isEmpty)
    assert(Snapshot.fsck(spark, t).isEmpty)
  }

  test("SnapshotTool verbs: delete-mor masks without rewrite; agg prints manifest aggregates") {
    val t = build("cli")
    val (out1, c1) = SnapshotTool.run(spark, Seq("delete-mor", t, "id", "10", "24"))
    assert(c1 == 0 && out1.head.contains("0 data files rewritten") &&
      out1.head.contains("visible rows 25"))
    Snapshot.tag(t, "audit")
    val (desc, c0) = SnapshotTool.run(spark, Seq("describe", t))
    assert(c0 == 0)
    val txt = desc.mkString("\n")
    assert(txt.contains("25 visible") && txt.contains("40 physical") &&
      txt.contains("15 masked") && txt.contains("audit->v2") &&
      txt.contains("stats cols       id,score"))
    val (out2, c2) = SnapshotTool.run(spark, Seq("agg", t, "score"))
    assert(c2 == 0)
    val kv = out2.map { l => val Array(k, v) = l.split(" = "); k -> v }.toMap
    assert(kv("n_rows") == "25" && kv("min_score") == "10" &&
      kv("max_score") == "400" && kv("n_score") == "25")
  }

  test("aggStats SUM: manifest-folded integral sums exact under vectors; non-integral rejected; legacy manifests told to compact") {
    val t = build("sum")
    def expectSum(): Long = Snapshot.readLatest(spark, t)
      .agg(sum("score")).collect().head.getLong(0)
    def gotSum(): Long = Snapshot.aggStats(spark, t, Seq("score"),
      sums = Seq("score")).collect().head.getAs[Long]("sum_score")
    assert(gotSum() == expectSum())
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 7, 19)))
    assert(gotSum() == expectSum(), "dv'd files scanned, clean files folded")
    val e1 = intercept[IllegalArgumentException] {
      Snapshot.aggStats(spark, t, Seq("id"), sums = Seq("payload")) }
    assert(e1.getMessage.contains("must also be in cols"))
    // a manifest whose stats predate sum tracking: strip sums (from
    // the dv-free v1 file set — the check applies to CLEAN files),
    // expect the compact() guidance
    val m = Snapshot.readManifest(t, 1)
    val legacy = m.copy(version = 3, parent = 2, op = "legacy",
      partitions = m.partitions.map { case (p, fs) => p -> fs.map(f =>
        f.copy(stats = f.stats.map { case (c, cs) =>
          c -> cs.copy(sum = None) })) })
    Snapshot.writeManifest(t, legacy)
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.aggStats(spark, t, Seq("score"), sums = Seq("score")) }
    assert(e2.getMessage.contains("compact"))
    Snapshot.compact(spark, t, maxFilesPerPartition = 0) // full rewrite records sums
    assert(gotSum() == expectSum(), "compact re-records the sum stats")
    // an entirely-null integral column folds to SQL's NULL sum, not 0
    val t2 = fresh("sumnull")
    Snapshot.create(spark, t2, spark.range(1, 9).select(col("id"),
      concat(lit("p"), col("id") % 2).as("part"),
      lit(null).cast("long").as("z")), "id", "part", statsCols = Seq("z"))
    val row = Snapshot.aggStats(spark, t2, Seq("z"), sums = Seq("z"))
      .collect().head
    assert(row.isNullAt(row.fieldIndex("sum_z")) &&
      row.getAs[Long]("n_z") == 0L)
  }

  test("aggStats DISTINCT: union of per-file sketches == whole-scan sketch, exact under vectors") {
    val t = fresh("hll")
    Snapshot.create(spark, t, seedDf, "id", "part",
      statsCols = Seq("score"), fileRanges = 4,
      hllCols = Seq("id", "payload"))
    import graft.functions.HllExprs
    def scanEst(c: String): Long = Snapshot.readLatest(spark, t)
      .agg(HllExprs.hllEstimate(HllExprs.hllSketch(col(c).cast("string"),
        12, portable = true))).collect().head.getLong(0)
    def got(c: String): Long = Snapshot.aggStats(spark, t, Seq("id"),
      distincts = Seq(c)).collect().head.getAs[Long](s"nd_$c")
    assert(got("id") == scanEst("id"), "manifest union must equal the scan sketch")
    assert(got("payload") == scanEst("payload"))
    // mask one whole partition: its files go dirty (re-sketched
    // dv-applied), the rest stay manifest-only — still scan-exact
    Snapshot.deleteWhereMor(spark, t, Seq(("part", "p1", "p1")))
    assert(got("id") == scanEst("id"), "hybrid path must stay scan-exact")
    // untracked column rejected with the hllCols list
    val e = intercept[IllegalArgumentException] {
      Snapshot.aggStats(spark, t, Seq("id"), distincts = Seq("score")) }
    assert(e.getMessage.contains("no HLL sketch"))
  }

  test("tags pin versions: vacuum-proof, readTag serves, untag releases, CLI verbs work") {
    val t = build("tags")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24))) // v2
    Snapshot.tag(t, "training-2026-08")                    // pins v2
    Snapshot.compact(spark, t, maxFilesPerPartition = 64)  // v3
    Snapshot.merge(spark, t,
      Seq((50L, "doc50", "p2", 500L)).toDF("id", "payload", "part", "score"),
      Seq.empty[Long].toDF("id"))                          // v4
    Snapshot.vacuum(spark, t, retainLast = 1)              // window past v2
    assert(Snapshot.tags(t) == Map("training-2026-08" -> 2))
    assert(rowsOf(Snapshot.readTag(spark, t, "training-2026-08")) ==
      rowsOf(seedDf.filter(!(col("id").between(10, 24)))),
      "a tagged version must survive vacuum — manifest, files AND vectors")
    assert(Snapshot.fsck(spark, t).isEmpty)
    // untag releases the pin; the next vacuum reclaims v2
    Snapshot.untag(t, "training-2026-08")
    Snapshot.vacuum(spark, t, retainLast = 1)
    intercept[IllegalArgumentException] { Snapshot.readAt(spark, t, 2) }
    assert(rowsOf(Snapshot.readLatest(spark, t)).exists(_._1 == 50L))
    // CLI: tag a fresh version, list, untag
    val (o1, c1) = SnapshotTool.run(spark, Seq("tag", t, "tip"))
    assert(c1 == 0 && o1.head.contains("'tip'"))
    val (o2, c2) = SnapshotTool.run(spark, Seq("tags", t))
    assert(c2 == 0 && o2 == Seq(s"tip -> v${Snapshot.currentVersion(t)}"))
    val (_, c3) = SnapshotTool.run(spark, Seq("untag", t, "tip"))
    assert(c3 == 0 && Snapshot.tags(t).isEmpty)
  }

  test("deleteMorKeys: each key batch is one MoR commit — zero rewrites, replay is visible-state idempotent") {
    val t = build("erasure")
    val before = dataFileDigest(t)
    Snapshot.deleteMorKeys(spark, t, Seq(3L, 17L).toDF("id"))
    Snapshot.deleteMorKeys(spark, t, Seq(24L, 999L).toDF("id")) // 999 absent
    assert(Snapshot.currentVersion(t) == 3, "one commit per key batch")
    assert(dataFileDigest(t) == before, "erasure rewrites nothing")
    val erased = rowsOf(seedDf.filter(!col("id").isin(3L, 17L, 24L)))
    assert(rowsOf(Snapshot.readLatest(spark, t)) == erased)
    // replay: re-applying the second batch commits a superset-identical
    // vector — visible state unchanged (positions only accumulate)
    Snapshot.deleteMorKeys(spark, t, Seq(24L, 999L).toDF("id"))
    assert(dataFileDigest(t) == before, "the replay rewrites nothing")
    assert(rowsOf(Snapshot.readLatest(spark, t)) == erased)
    assert(Snapshot.fsck(spark, t).isEmpty)
  }

  test("commit guards: a wipeout merge and an over-budget MoR delete are rejected; rollback is exempt") {
    val t = fresh("guards")
    Snapshot.create(spark, t, seedDf, "id", "part",
      statsCols = Seq("score"), fileRanges = 4,
      guards = Map("min_rows" -> "10", "max_shrink_pct" -> "50"))
    // a bad upstream delivers an empty refresh that deletes everyone:
    // rejected at publish, version counter untouched
    val e1 = intercept[Snapshot.GuardViolationException] {
      Snapshot.merge(spark, t,
        seedDf.limit(0), seedDf.select("id"))
    }
    assert(e1.getMessage.contains("min_rows") &&
      Snapshot.currentVersion(t) == 1)
    // shrink budget: masking 25 of 40 rows (62%) trips max_shrink_pct
    val e2 = intercept[Snapshot.GuardViolationException] {
      Snapshot.deleteWhereMor(spark, t, Seq(("id", 1, 25)))
    }
    assert(e2.getMessage.contains("max_shrink_pct") &&
      Snapshot.currentVersion(t) == 1)
    // a within-budget delete lands; guards carry forward in the manifest
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 1, 12)))
    assert(Snapshot.currentVersion(t) == 2)
    assert(Snapshot.readManifest(t, 2).guards ==
      Map("min_rows" -> "10", "max_shrink_pct" -> "50"))
    // rollback is an explicit undo — exempt however the rows move
    Snapshot.rollback(spark, t, 1)
    assert(Snapshot.readManifest(t, 3).logicalRows == 40)
    // unknown guard name rejected at create
    intercept[IllegalArgumentException] {
      Snapshot.create(spark, fresh("guards2"), seedDf, "id", "part",
        guards = Map("max_rows" -> "7"))
    }
  }

  test("aggStats answers from the manifest alone and stays exact under vectors and compaction") {
    val t = build("agg")
    def expect(): Seq[Any] = {
      val r = Snapshot.readLatest(spark, t)
        .agg(count(lit(1)).as("n_rows"), count(col("score")).as("n_score"),
          min("score").as("min_score"), max("score").as("max_score"))
        .collect().head
      r.toSeq
    }
    def got(): Seq[Any] =
      Snapshot.aggStats(spark, t, Seq("score")).collect().head.toSeq
    assert(got() == expect(), "pure-manifest aggregate must equal the scan")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 1, 5)))
    assert(got() == expect(), "hybrid (dv'd files scanned) must stay exact")
    Snapshot.compact(spark, t, maxFilesPerPartition = 64)
    assert(got() == expect(), "back to pure-manifest after compaction")
    // key column stats serve too
    val byKey = Snapshot.aggStats(spark, t, Seq("id")).collect().head
    assert(byKey.getAs[Long]("n_rows") == 35 &&
      byKey.getAs[Long]("min_id") == 6L && byKey.getAs[Long]("max_id") == 40L)
  }

  test("dv mask resolves on a table whose DATA schema contains 'file' and 'pos' columns") {
    val t = fresh("dvnames")
    // 'file'/'pos' collide with the deletion-vector frame's own column
    // names — the mask join must stay unambiguous anyway
    val df = spark.range(1, 41).select(col("id"),
      concat(lit("f"), col("id")).as("file"),
      (col("id") * 2).as("pos"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"))
    Snapshot.create(spark, t, df, "id", "part", statsCols = Seq("pos"))
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 10, 24)))
    val got = Snapshot.readLatest(spark, t)
      .select("id", "file", "pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = (1L to 40L).filterNot(i => i >= 10 && i <= 24)
      .map(i => (i, s"f$i", i * 2)).toSet
    assert(got == want)
    // compact() also reads dv-applied — must not trip on the names either
    Snapshot.compact(spark, t, maxFilesPerPartition = 64)
    val after = Snapshot.readLatest(spark, t)
      .select("id", "file", "pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after == want && Snapshot.fsck(spark, t).isEmpty)
  }

  test("SnapshotTool expect: ad-hoc tip audit prints per-check rows, exit 1 on failure") {
    val t = build("cliexpect")
    val (ok, c0) = SnapshotTool.run(spark,
      Seq("expect", t, "unique:id", "row_count:10-1000"))
    assert(c0 === 0 && ok.forall(_.startsWith("OK")), ok.mkString("\n"))
    val (bad, c1) = SnapshotTool.run(spark,
      Seq("expect", t, "unique:id", "row_count:100-1000"))
    assert(c1 === 1, bad.mkString("\n"))
    assert(bad.exists(l => l.startsWith("FAIL") &&
      l.contains("row_count_between(100,1000)") && l.contains("observed=40")))
    assert(bad.exists(_.startsWith("OK")))
  }

  test("commit expectations: a bad delivery is rejected with zero residue; good ones land; the suite carries forward") {
    val t = fresh("expects")
    val suite = Seq("unique:id", "row_count:10-100000")
    // create load with a duplicated key → rejected BEFORE any write
    intercept[Snapshot.ExpectationViolationException] {
      Snapshot.create(spark, t, seedDf.unionAll(seedDf.limit(3)),
        "id", "part", expects = suite)
    }
    assert(Snapshot.currentVersion(t) == 0 &&
      !Files.exists(Paths.get(t, "files")), "zero residue on rejection")
    Snapshot.create(spark, t, seedDf, "id", "part", expects = suite)
    assert(Snapshot.currentVersion(t) == 1)
    // a delivery that re-duplicates a key: rejected atomically, and
    // the report names the failing check with its violation count
    val dupDelivery = seedDf.filter(col("id") <= 12)
      .unionAll(seedDf.filter(col("id") === 3))
    val e = intercept[Snapshot.ExpectationViolationException] {
      Snapshot.merge(spark, t, dupDelivery, seedDf.limit(0).select("id"))
    }
    assert(e.getMessage.contains("unique(id)") &&
      e.getMessage.contains("observed=1"), e.getMessage)
    assert(Snapshot.currentVersion(t) == 1, "no torn version")
    // the row-count floor is the empty-refresh circuit breaker: a
    // delivery of zero rows never reaches the table
    val e2 = intercept[Snapshot.ExpectationViolationException] {
      Snapshot.merge(spark, t, seedDf.limit(0), seedDf.limit(0).select("id"))
    }
    assert(e2.getMessage.contains("row_count_between(10,100000)") &&
      e2.getMessage.contains("observed=0"))
    // a healthy delivery lands, and the suite rides the manifest
    Snapshot.merge(spark, t,
      seedDf.filter(col("id") <= 12)
        .withColumn("payload", concat(col("payload"), lit("v2"))),
      seedDf.limit(0).select("id"))
    assert(Snapshot.currentVersion(t) == 2)
    assert(Snapshot.readManifest(t, 2).expects == suite)
    assert(Snapshot.readLatest(spark, t).filter(col("payload") === "doc3v2").count() == 1)
    // subset checks need a reference frame — pipeline-level only
    intercept[IllegalArgumentException] {
      Snapshot.create(spark, fresh("expects2"), seedDf, "id", "part",
        expects = Seq("subset:id:ref.id"))
    }
  }

  test("wapMerge: the post-state audit rejects while staged — the bad state never becomes a version") {
    val t = build("wap")
    // partition erosion below a completeness floor: invisible to the
    // delivery gate (the delivery is delete KEYS, no data frame) and
    // to manifest guards (global row math only) — only the post-merge
    // STATE audit can see a group at 7 < 8 rows
    val audit = Seq("min_per_group:part:8", "row_count:30-1000")
    val e = intercept[Snapshot.ExpectationViolationException] {
      Snapshot.wapMerge(spark, t, seedDf.limit(0),
        seedDf.filter(col("id").isin(1L, 5L, 9L)).select("id"), audit)
    }
    assert(e.getMessage.contains("min_per_group(part,8)"), e.getMessage)
    assert(Snapshot.currentVersion(t) == 1, "the audited-bad state never published")
    // the aborted stage leaves no residue
    val ls = Files.list(Paths.get(t, "files"))
    try assert(!ls.iterator().asScala.exists(
      _.getFileName.toString.startsWith("_staging")), "stage must be reclaimed")
    finally ls.close()
    assert(Snapshot.fsck(spark, t).isEmpty)
    // a delivery inside the audit publishes: mixed upsert + delete
    val st = Snapshot.wapMerge(spark, t,
      seedDf.filter(col("id").isin(20L, 24L))
        .withColumn("payload", concat(col("payload"), lit("w"))),
      seedDf.filter(col("id") === 1L).select("id"), audit)
    assert(st.version == 2)
    val now = Snapshot.readLatest(spark, t)
    assert(now.count() == 39 &&
      now.filter(col("payload") === "doc20w").count() == 1)
    // cumulative erosion across healthy-looking deliveries still trips
    // the whole-table floor
    intercept[Snapshot.ExpectationViolationException] {
      Snapshot.wapMerge(spark, t, seedDf.limit(0),
        seedDf.filter(col("id").between(2L, 13L)).select("id"), audit)
    }
    assert(Snapshot.currentVersion(t) == 2)
  }

  test("guard-rejected create() reclaims its commit dir — a retried create succeeds") {
    val t = fresh("createguard")
    intercept[Snapshot.GuardViolationException] {
      Snapshot.create(spark, t, seedDf.limit(5), "id", "part",
        guards = Map("min_rows" -> "1000"))
    }
    assert(Snapshot.currentVersion(t) == 0, "no version may publish")
    // the day-two retry with enough rows must not hit path-already-exists
    Snapshot.create(spark, t, seedDf, "id", "part",
      guards = Map("min_rows" -> "10"))
    assert(Snapshot.currentVersion(t) == 1 &&
      rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))
  }
}
