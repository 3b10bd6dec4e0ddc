package graft

import graft.operators.{LogStore, Snapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The manifest-at-scale round: SEGMENTED manifests (per-partition
  * segment files + a manifest list, the Iceberg shape — commit
  * metadata IO O(changed partitions), not O(live files)) and the
  * parsed-manifest MEMO (immutable manifests parse once per
  * (table, version), validated by (mtime, size) so a recreated table
  * can never serve stale state). `graft.dev.ManifestBench` carries
  * the measured curve; this suite carries the invariants. */
class SegmentedManifestSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_segspec_$tag"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    p
  }

  private def seedDf: DataFrame = (0 until 40)
    .map(i => (i.toLong, s"pay_$i", s"p${i / 10}"))
    .toDF("id", "payload", "part")

  private def rowsOf(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "payload", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  /** The manifest's RAW partition→segment map (None = inline). */
  private def segMap(t: String, v: Int): Map[String, Option[String]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(
      LogStore.forPath(t).read(f"$t%s/_log/v$v%08d.json"))
    root.get("partitions").properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isArray) None
                   else Some(e.getValue.get("seg").asText()))
    }.toMap
  }

  private def segFiles(t: String): Set[String] = {
    val st = LogStore.forPath(t)
    if (!st.isDirectory(s"$t/_log/seg")) Set.empty
    else st.list(s"$t/_log/seg").collect { case (n, false) => n }.toSet
  }

  private def withThreshold[A](n: Int)(body: => A): A = {
    val k = "graft.manifest.segmentThreshold"
    val old = sys.props.get(k)
    sys.props(k) = n.toString
    try body finally old match {
      case Some(v) => sys.props(k) = v
      case None => sys.props -= k
    }
  }

  test("past the threshold, commits segment: untouched partitions carry their segment file VERBATIM; only changed partitions write") {
    withThreshold(2) {
      val t = fresh("carry")
      Snapshot.create(spark, t, seedDf, "id", "part", statsCols = Seq("id"),
        fileRanges = 2, bloomCols = Seq("id"))
      val s1 = segMap(t, 1)
      assert(s1.values.forall(_.isDefined), "4 partitions > threshold 2 must segment")
      assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))

      // a merge touching ONLY p0: p1/p2/p3 reuse their v1 segment by
      // REFERENCE (same path string in the manifest list); p0 writes new
      Snapshot.merge(spark, t,
        upserts = Seq((2L, "pay_2v2", "p0")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      val s2 = segMap(t, 2)
      Seq("p1", "p2", "p3").foreach(p =>
        assert(s2(p) == s1(p), s"untouched $p must reuse its segment ref"))
      assert(s2("p0") != s1("p0"), "the rewritten partition gets a fresh segment")
      assert(rowsOf(Snapshot.readLatest(spark, t)).contains((2L, "pay_2v2", "p0")))

      // rollback is a PURE manifest-list write: zero new segments
      val before = segFiles(t)
      Snapshot.rollback(spark, t, 1)
      assert(segFiles(t) == before, "rollback must write no segment files")
      assert(segMap(t, 3) == s1)
      assert(rowsOf(Snapshot.readAt(spark, t, 3)) == rowsOf(seedDf))
    }
  }

  test("segmented tables serve every read path identically: time travel, pruned reads, manifest-only aggregates, change feed, DML") {
    withThreshold(2) {
      val t = fresh("paths")
      Snapshot.create(spark, t, seedDf, "id", "part", statsCols = Seq("id"),
        fileRanges = 2, bloomCols = Seq("id"))
      Snapshot.merge(spark, t,
        upserts = Seq((5L, "pay_5v2", "p0"), (41L, "pay_41", "p4"))
          .toDF("id", "payload", "part"),
        deleteKeys = Seq(17L).toDF("id"))
      assert(rowsOf(Snapshot.readAt(spark, t, 1)) == rowsOf(seedDf))
      assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("id", 0, 9)))
        .select("id").collect().map(_.getLong(0)).toSet ==
        (0L to 9L).toSet)
      val agg = Snapshot.aggStats(spark, t, Seq("id"), sums = Seq("id"))
        .collect().head
      assert(agg.getAs[Long]("n_rows") == 40L)
      val (removed, added) = Snapshot.changeSet(spark, t, 2)
      assert(added.count() > 0 && removed.count() > 0)
      // predicate DML rewrites only its candidates; the rest reuse
      val s2 = segMap(t, 2)
      Snapshot.deleteWhere(spark, t, Seq(("id", 0, 3)))
      val s3 = segMap(t, 3)
      assert(s3("p2") == s2("p2") && s3("p3") == s2("p3"),
        "partitions the DELETE provably misses keep their segments")
      assert(Snapshot.readLatest(spark, t).count() == 36L)
      // MoR delete re-points entries (dv change = content change): the
      // touched partition's segment must NOT be reused
      Snapshot.deleteWhereMor(spark, t, Seq(("id", 8, 8)))
      val s4 = segMap(t, 4)
      assert(s4("p0") != s3("p0"), "a dv re-point is a segment change")
      assert(Snapshot.readLatest(spark, t).count() == 35L)
    }
  }

  test("vacuum reclaims segments no retained manifest references and keeps the referenced ones") {
    withThreshold(2) {
      val t = fresh("vac")
      Snapshot.create(spark, t, seedDf, "id", "part", fileRanges = 2)
      Snapshot.merge(spark, t, // v2 rewrites p0
        upserts = Seq((1L, "x", "p0")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      Snapshot.merge(spark, t, // v3 rewrites p1
        upserts = Seq((11L, "y", "p1")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      val preCount = segFiles(t).size
      val vs = Snapshot.vacuum(spark, t, retainLast = 1)
      // v1's p0 segment and v1/v2's p1 segments are now unreferenced
      assert(segFiles(t).size < preCount, "expired versions' segments reclaim")
      assert(vs.manifestsDeleted >= 2)
      val mCur = Snapshot.readManifest(t, 3)
      val st = LogStore.forPath(t)
      mCur.segRefs.values.foreach(s =>
        assert(st.exists(s"$t/_log/${s.path}"), "referenced segments survive"))
      assert(Snapshot.readLatest(spark, t).count() == 40L)
    }
  }

  test("manifest memo: one parse per (table, version); a recreated table at the same path is never served stale") {
    val t = fresh("memo")
    val gk = "graft.manifest.mtimeGranularityMs"
    Snapshot.create(spark, t, seedDf, "id", "part")
    // RACILY-FRESH guard: a manifest younger than the mtime
    // granularity window is never cached (a same-tick recreate could
    // hide behind an identical (mtime, size)). Pin the window WIDE so
    // the assertion can't flake on a slow box (the default 2 s window
    // would pass a GC pause between create and first read).
    sys.props(gk) = (3600L * 1000).toString
    try {
      val f1 = Snapshot.readManifest(t, 1)
      val f2 = Snapshot.readManifest(t, 1)
      assert(!(f1 eq f2), "a fresh manifest must re-parse, not cache")
    } finally sys.props -= gk
    sys.props(gk) = "0" // stable-mtime regime for the rest of the test
    try {
    val a = Snapshot.readManifest(t, 1)
    val b = Snapshot.readManifest(t, 1)
    assert(a eq b, "second read must serve the memoized instance")
    // recreate at the SAME path with different content: the memo's
    // (mtime, size) validation must reject the stale entry
    LogStore.forPath(t).deleteTree(t)
    Snapshot.create(spark, t,
      Seq((100L, "fresh", "q1")).toDF("id", "payload", "part"), "id", "part")
    val c = Snapshot.readManifest(t, 1)
    assert(!(c eq a) && c.partitions.keySet == Set("q1"),
      "recreated table must re-parse, never serve the stale manifest")
    assert(rowsOf(Snapshot.readLatest(spark, t)) == Set((100L, "fresh", "q1")))
    } finally sys.props -= gk
  }

  test("fsck reports unreadable manifests and orphan segments as findings instead of crashing") {
    withThreshold(2) {
      val t = fresh("fsckseg")
      Snapshot.create(spark, t, seedDf, "id", "part", fileRanges = 2)
      Snapshot.merge(spark, t, // v2 rewrites p0; p1..p3 segs shared with v1
        upserts = Seq((1L, "x", "p0")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      val st = LogStore.forPath(t)
      // a CLEAN log reports a planted orphan segment
      st.putIfAbsent(s"$t/_log/seg/orphan-junk.json", "[]".getBytes)
      val clean = Snapshot.fsck(spark, t)
      assert(clean.exists(_.problem.contains("orphan segment")),
        s"clean-log fsck must report the planted orphan, got $clean")
      // lose v1's p0 segment — referenced ONLY by v1 (v2 rewrote p0)
      val v1p0 = segMap(t, 1)("p0").get
      assert(st.delete(s"$t/_log/$v1p0"))
      Snapshot.clearManifestCache()
      val issues = Snapshot.fsck(spark, t)
      assert(issues.exists(i => i.version == 1 &&
        i.problem.startsWith("manifest unreadable")),
        s"damaged v1 must surface as a finding, got $issues")
      // with a manifest unreadable, ORPHAN findings are suppressed —
      // an artifact could be referenced by exactly the version we
      // cannot parse, and 'orphan' invites deleting recoverable state
      assert(issues.exists(_.problem.startsWith("orphan audit skipped")))
      assert(!issues.exists(_.problem.contains("orphan segment")),
        "no orphan verdicts while the reference set is incomplete")
      // the CURRENT version still audits and still reads
      assert(Snapshot.readLatest(spark, t).count() == 40L)
    }
  }

  test("optimistic and WAP commits segment correctly: staged publishes reuse carried refs; rebase over a disjoint commit keeps both sides") {
    withThreshold(2) {
      val t = fresh("opt")
      Snapshot.create(spark, t, seedDf, "id", "part", fileRanges = 2)
      val s1 = segMap(t, 1)
      // stage against v1, let a DISJOINT commit (p3) land first, then
      // publish — the rebase carries the concurrent commit's p3
      // segment AND reuses v1's untouched p1/p2 refs
      val staged = Snapshot.stageMerge(spark, t,
        upserts = Seq((2L, "opt2", "p0")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      Snapshot.merge(spark, t, // v2: rewrites p3
        upserts = Seq((31L, "conc", "p3")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      val s2 = segMap(t, 2)
      val st3 = Snapshot.commitStaged(spark, staged) // v3: stage rebased
      assert(st3.version == 3)
      val s3 = segMap(t, 3)
      assert(s3("p1") == s1("p1") && s3("p2") == s1("p2"),
        "untouched partitions reuse their v1 segments through the rebase")
      assert(s3("p3") == s2("p3"),
        "the concurrent commit's p3 segment carries into the rebased publish")
      assert(s3("p0") != s1("p0"), "the staged rewrite gets a fresh segment")
      val rows = rowsOf(Snapshot.readLatest(spark, t))
      assert(rows.contains((2L, "opt2", "p0")) && rows.contains((31L, "conc", "p3")))

      // WAP: the audit reads the post-state from staged paths, the
      // publish segments like any commit
      val st4 = Snapshot.wapMerge(spark, t,
        upserts = Seq((11L, "wap", "p1")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"),
        audit = Seq("row_count:40-100", "unique:id"))
      assert(st4.version == 4)
      val s4 = segMap(t, 4)
      assert(s4("p0") == s3("p0") && s4("p2") == s3("p2"),
        "WAP publish reuses untouched refs")
      assert(rowsOf(Snapshot.readLatest(spark, t)).contains((11L, "wap", "p1")))
    }
  }

  test("below the threshold manifests stay inline (no segment files, no extra read round-trips)") {
    val t = fresh("inline")
    Snapshot.create(spark, t, seedDf, "id", "part")
    assert(segMap(t, 1).values.forall(_.isEmpty))
    assert(segFiles(t).isEmpty)
  }

  private def withShardThreshold[A](n: Int)(body: => A): A = {
    val k = "graft.manifest.listShardThreshold"
    val old = sys.props.get(k)
    sys.props(k) = n.toString
    try body finally old match {
      case Some(v) => sys.props(k) = v
      case None => sys.props -= k
    }
  }

  /** The raw manifest's shard list: bucket → shard path (empty when
    * the list is not sharded). */
  private def shardMap(t: String, v: Int): Map[Int, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(
      LogStore.forPath(t).read(f"$t%s/_log/v$v%08d.json"))
    Option(root.get("partition_shards")).map(_.get("shards")
        .elements().asScala.map(n =>
          n.get("bucket").asInt() -> n.get("path").asText()).toMap)
      .getOrElse(Map.empty)
  }

  test("sharded segment LIST (r15): past the partition threshold the per-partition list moves to hash-bucketed shard files; a touch-one commit reuses every other shard VERBATIM; reads/DML/vacuum/fsck identical") {
    withThreshold(2) { withShardThreshold(8) {
      val t = fresh("shard")
      // 24 partitions × ~2 rows: > both thresholds
      val df = (0 until 48).map(i => (i.toLong, s"pay_$i", s"q${i % 24}"))
        .toDF("id", "payload", "part")
      Snapshot.create(spark, t, df, "id", "part", statsCols = Seq("id"))
      val sh1 = shardMap(t, 1)
      assert(sh1.nonEmpty, "24 partitions > threshold 8 must shard the list")
      assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(df))
      // the manifest root must NOT carry a per-partition list
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root1 = mapper.readTree(
        LogStore.forPath(t).read(s"$t/_log/v00000001.json"))
      assert(root1.get("partitions") == null)

      // touch ONE partition: every shard not containing it reuses BY
      // REFERENCE (same path string); exactly the containing shard
      // (plus its segment) writes fresh
      Snapshot.merge(spark, t,
        upserts = Seq((1L, "pay_1v2", "q1")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
      val sh2 = shardMap(t, 2)
      val changed = sh2.keySet.filter(b => sh1.get(b) != sh2.get(b))
      assert(changed.size == 1,
        s"one partition touched -> one shard rewritten, got $changed")
      assert(rowsOf(Snapshot.readLatest(spark, t)) ==
        rowsOf(df.filter($"id" =!= 1L)) + ((1L, "pay_1v2", "q1")))
      // time travel across the sharded boundary
      assert(rowsOf(Snapshot.readAt(spark, t, 1)) == rowsOf(df))

      // predicate DML + MoR still serve identically under sharding
      Snapshot.deleteWhere(spark, t, Seq(("part", "q3", "q3")))
      assert(Snapshot.readLatest(spark, t)
        .filter($"part" === "q3").count() == 0)
      Snapshot.deleteWhereMor(spark, t, Seq(("id", 10L, 10L)))
      assert(Snapshot.readLatest(spark, t)
        .filter($"id" === 10L).count() == 0)

      // fsck: clean (shard files are referenced metadata, not orphans)
      assert(Snapshot.fsck(spark, t).isEmpty)

      // vacuum: shards referenced only by expired versions reclaim;
      // live shards survive
      val before = segFiles(t).count(_.startsWith("ls-"))
      Snapshot.vacuum(spark, t, retainLast = 1)
      val after = segFiles(t).count(_.startsWith("ls-"))
      assert(after < before, "expired versions' exclusive shards reclaim")
      assert(Snapshot.fsck(spark, t).isEmpty)
      assert(rowsOf(Snapshot.readLatest(spark, t)) ==
        rowsOf(df.filter($"id" =!= 1L && $"part" =!= "q3" && $"id" =!= 10L))
          + ((1L, "pay_1v2", "q1")))
    } }
  }
}
