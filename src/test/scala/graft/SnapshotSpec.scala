package graft

import graft.operators.{HadoopLogStore, LogStore, Snapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SnapshotSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_snapspec_$tag"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    p
  }

  private def seedDf: DataFrame = Seq(
    (1L, "alpha", "p1"), (2L, "bravo", "p1"), (3L, "charlie", "p1"),
    (4L, "delta", "p2"), (5L, "echo", "p2"),
    (6L, "foxtrot", "p3"), (7L, "golf", "p3"),
    (8L, "hotel", "p4")).toDF("id", "payload", "part")

  private def rowsOf(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "payload", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  /** v2 change set: upsert ids 2 (revise), 9 (new, p2), 6 (moves p3→p1);
    * delete ids 5 and 8 (8 empties p4). */
  private def commitV2(t: String): Snapshot.CommitStats =
    Snapshot.merge(spark, t,
      upserts = Seq((2L, "bravo2", "p1"), (9L, "india", "p2"),
        (6L, "foxtrot2", "p1")).toDF("id", "payload", "part"),
      deleteKeys = Seq(5L, 8L).toDF("id"))

  private val v2Expected: Set[(Long, String, String)] = Set(
    (1L, "alpha", "p1"), (2L, "bravo2", "p1"), (3L, "charlie", "p1"),
    (4L, "delta", "p2"), (9L, "india", "p2"),
    (6L, "foxtrot2", "p1"), (7L, "golf", "p3"))

  test("create + readLatest round-trips; history starts at v1") {
    val t = fresh("create")
    val st = Snapshot.create(spark, t, seedDf, "id", "part")
    assert(st.version == 1 && st.rewrittenPartitions == Seq("p1", "p2", "p3", "p4"))
    assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))
    assert(Snapshot.history(t).map(h => (h._1, h._2)) == Seq((1, "create")))
  }

  test("merge commits a new version; old version still readable; untouched partition files carried forward verbatim") {
    val t = fresh("merge")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val m1 = Snapshot.readManifest(t, 1)
    val st = commitV2(t)
    assert(st.version == 2)
    assert(st.droppedPartitions == Seq("p4")) // emptied by delete of id 8
    val m2 = Snapshot.readManifest(t, 2)
    // p3 lost id 6 (moved) — affected; p1, p2 affected; only p4 dropped.
    // An UNTOUCHED partition keeps the exact same manifest entries:
    // build a table where one partition is untouched to assert that.
    assert(rowsOf(Snapshot.readAt(spark, t, 1)) == rowsOf(seedDf)) // time travel
    assert(rowsOf(Snapshot.readLatest(spark, t)) == v2Expected)
    // every v1 file still exists on disk (immutability: nothing deleted)
    m1.files.foreach(f => assert(Files.exists(Paths.get(t, f.path)), f.path))
    assert(m2.parent == 1 && m2.op == "merge")
  }

  test("a partition no changed key touches carries identical manifest entries and is not rewritten") {
    val t = fresh("untouched")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val before = Snapshot.readManifest(t, 1).partitions("p3")
    // change set touching only p1
    Snapshot.merge(spark, t,
      upserts = Seq((1L, "alpha2", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val after = Snapshot.readManifest(t, 2).partitions("p3")
    assert(after == before) // same files, same stats — carried, not rewritten
  }

  test("rollback publishes an old file set as a new version; vacuum deletes unreferenced files and expires manifests") {
    val t = fresh("rollback")
    Snapshot.create(spark, t, seedDf, "id", "part")
    commitV2(t)
    val rb = Snapshot.rollback(spark, t, 1)
    assert(rb.version == 3)
    assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))
    assert(Snapshot.history(t).map(_._2) ==
      Seq("create", "merge", "rollback(1)"))

    // retain last 2 (v2, v3): v1's manifest expires, but v1's FILES are
    // referenced by v3 (the rollback) and must survive
    val v2Files = Snapshot.readManifest(t, 2).files.map(_.path).toSet
    val v3Files = Snapshot.readManifest(t, 3).files.map(_.path).toSet
    val vs = Snapshot.vacuum(spark, t, retainLast = 2)
    assert(vs.manifestsDeleted == 1)
    v3Files.foreach(f => assert(Files.exists(Paths.get(t, f))))
    v2Files.foreach(f => assert(Files.exists(Paths.get(t, f))))
    assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))
    val err = intercept[IllegalArgumentException](Snapshot.readAt(spark, t, 1))
    assert(err.getMessage.contains("vacuumed"))
  }

  test("vacuum after a second divergent merge deletes the rolled-over commit's files") {
    val t = fresh("vacuum2")
    Snapshot.create(spark, t, seedDf, "id", "part")
    commitV2(t) // v2 rewrites p1,p2,p3 → new files in commit dir c2
    // v3 rewrites p1 again: c2's p1 files become unreferenced once v2 expires
    Snapshot.merge(spark, t,
      upserts = Seq((3L, "charlie3", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val c2p1 = Snapshot.readManifest(t, 2).partitions("p1").map(_.path)
    val vs = Snapshot.vacuum(spark, t, retainLast = 1)
    assert(vs.filesDeleted > 0 && vs.bytesFreed > 0)
    c2p1.foreach(f => assert(!Files.exists(Paths.get(t, f)), s"$f should be vacuumed"))
    // latest still fully readable
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      (v2Expected - ((3L, "charlie", "p1")) + ((3L, "charlie3", "p1"))))
  }

  test("concurrent commit: held lock fails the second writer; release allows it") {
    val t = fresh("lock")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val lock = Paths.get(t, "_log", "_commit.lock")
    Files.createFile(lock)
    intercept[Snapshot.ConcurrentCommitException](commitV2(t))
    assert(Snapshot.currentVersion(t) == 1) // nothing committed
    Files.delete(lock)
    assert(commitV2(t).version == 2)
  }

  test("stale lock (older than threshold) is stolen, commit proceeds") {
    val t = fresh("stale")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val lock = Paths.get(t, "_log", "_commit.lock")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7 * 3600 * 1000L))
    assert(commitV2(t).version == 2)
    assert(!Files.exists(lock))
  }

  test("stats pruning: range read touches only files whose key range admits the predicate, result exact") {
    val t = fresh("prune")
    val wide = spark.range(0, 4000).select(
      col("id"),
      concat(lit("doc "), col("id")).as("payload"),
      (col("id") % 4).cast("string").as("part"))
    Snapshot.create(spark, t, wide, "id", "part", fileRanges = 16)
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("id", 100, 299)))
    assert(total >= 16, s"expected >=16 files, got $total")
    assert(kept.size < total / 2, s"pruning kept ${kept.size} of $total")
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("id", 100, 299)))
    assert(got.count() == 200)
    assert(got.agg(sum("id")).as[Long].head ==
      (100L to 299L).sum)
    // partition-column pruning path
    val (keptP, totalP) = Snapshot.prune(t, Seq(Snapshot.RangePred("part", "2", "2")))
    assert(keptP.size < totalP)
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("part", "2", "2"))).count() == 1000)
  }

  test("numeric partition values prune numerically, not lexicographically") {
    val t = fresh("numpart")
    // partitions 0..12: lexicographic [2,10] would wrongly drop "3".."9"
    val df = spark.range(0, 1300).select(
      col("id"), (col("id") % 13).cast("string").as("part"))
    Snapshot.create(spark, t, df, "id", "part")
    val (kept, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("part", 2, 10)))
    val keptParts = kept.map(_.path.split("/")(2)).toSet // files/cN/__part=V/...
    assert((2 to 10).forall(v => keptParts.contains(s"__part=$v")),
      s"numeric range must keep partitions 2..10, got $keptParts")
    assert(!keptParts.contains("__part=1") && !keptParts.contains("__part=11"))
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("part", 2, 10))).count() == 900)
  }

  test("numeric stats never compare as strings: an infinite bound or a NaN stat keeps the file") {
    val t = fresh("numinf")
    val df = ((10 to 20).map(i => (i.toLong, i.toDouble, "p1")) ++
      Seq((100L, 1.0, "p2"), (101L, Double.NaN, "p2"))).toDF("id", "score", "part")
    Snapshot.create(spark, t, df, "id", "part", statsCols = Seq("score"))
    // "20.0" < "5.0" in UTF-8 order: a string compare would drop p1's file
    val upToInf = Seq(Snapshot.RangePred("score", 5.0, Double.PositiveInfinity))
    val (kept, _) = Snapshot.prune(t, upToInf)
    assert(kept.exists(_.path.contains("__part=p1")), s"p1 pruned: $kept")
    assert(Snapshot.read(spark, t, upToInf).count() == 11)
    // p2's NaN max has no numeric reading: kept, not an error
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("score", 0.5, 1.5)))
      .select("id").as[Long].collect().toSeq == Seq(100L))
    Snapshot.deleteWhere(spark, t, Seq(("score", 5.0, Double.PositiveInfinity)))
    assert(Snapshot.readLatest(spark, t).select("id").as[Long].collect().toSet ==
      Set(100L, 101L))
    // the same bound on a double identity partition column
    val tp = fresh("numinfpart")
    Snapshot.create(spark, tp, Seq((1L, 10.0), (2L, 20.0), (3L, 3.0))
      .toDF("id", "score"), "id", "score")
    assert(Snapshot.read(spark, tp, upToInf).select("id").as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  test("zorder layout: multi-column pruning beats the range layout's second key; layout persists across merge commits") {
    def mk(tag: String, mode: String, zk: Seq[String]) = {
      val t = fresh(tag)
      // two independent uniform keys: a range layout on (part, id) has
      // narrow id ranges but FULL-span b ranges per file
      val wide = spark.range(0, 8000).select(
        col("id"),
        ((col("id") * 2654435761L) % 8000).as("b"),
        concat(lit("doc "), col("id")).as("payload"),
        lit("p0").as("part"))
      Snapshot.create(spark, t, wide, "id", "part",
        statsCols = Seq("id", "b"), fileRanges = 32,
        layoutMode = mode, zorderKeys = zk)
      t
    }
    val ranged = mk("zo_range", "range", Nil)
    val zorded = mk("zo_z", "zorder", Seq("id", "b"))
    val preds = Seq(Snapshot.RangePred("id", 1000L, 1999L),
      Snapshot.RangePred("b", 1000L, 1999L))
    val (keptR, totR) = Snapshot.prune(ranged, preds)
    val (keptZ, totZ) = Snapshot.prune(zorded, preds)
    assert(totR >= 16 && totZ >= 16)
    // range layout: id prunes to ~1/8, b prunes nothing within those
    // files; zorder: both predicates prune — strictly fewer files
    assert(keptZ.size < keptR.size,
      s"zorder kept ${keptZ.size}, range kept ${keptR.size} of $totZ/$totR")
    // results identical (and identical to a full-scan filter)
    val a = Snapshot.read(spark, zorded, preds)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Snapshot.read(spark, ranged, preds)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val full = Snapshot.readLatest(spark, zorded)
      .filter(col("id").between(1000, 1999) && col("b").between(1000, 1999))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a == full && a.nonEmpty)
    // the layout is a table property: a merge commit reuses it
    Snapshot.merge(spark, zorded,
      upserts = Seq((9000L, 123L, "x", "p0")).toDF("id", "b", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    assert(Snapshot.readManifest(zorded, 2).layout ==
      Snapshot.Layout(32, "zorder", Seq("id", "b")))
  }

  test("relayout: OPTIMIZE ZORDER as one commit — pruning improves, dvs materialize, layout persists, rollback restores") {
    val t = fresh("relayout")
    val wide = spark.range(0, 8000).select(
      col("id"), ((col("id") * 2654435761L) % 8000).as("b"),
      concat(lit("doc "), col("id")).as("payload"), lit("p0").as("part"))
    Snapshot.create(spark, t, wide, "id", "part",
      statsCols = Seq("id", "b"), fileRanges = 32) // range layout on id
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 7000L, 7999L)))
    val visibleBefore = Snapshot.readLatest(spark, t)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val preds = Seq(Snapshot.RangePred("id", 1000L, 1999L),
      Snapshot.RangePred("b", 1000L, 1999L))
    // the range layout (sorted by id) cannot prune on b AT ALL: every
    // file's b-range spans the full domain
    val (keptBefore, totBefore) = Snapshot.prune(t, Seq(Snapshot.RangePred("b", 1000L, 1999L)))
    assert(keptBefore.size === totBefore,
      "fixture: the range layout must be blind to the second key")

    val st = Snapshot.relayout(spark, t, 32, "zorder", Seq("id", "b"))
    assert(st.version === 3)
    val m = Snapshot.readManifest(t, 3)
    assert(m.layout === Snapshot.Layout(32, "zorder", Seq("id", "b")))
    // deletion vectors MATERIALIZED away (like compact), rows identical
    assert(m.files.forall(_.dv.isEmpty), "relayout must clear dvs")
    assert(Snapshot.readLatest(spark, t)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === visibleBefore)
    // the new layout genuinely narrows the second key's file ranges:
    // the same b-only predicate now prunes where range kept everything
    val (keptAfter, tot) = Snapshot.prune(t, Seq(Snapshot.RangePred("b", 1000L, 1999L)))
    assert(keptAfter.size < keptBefore.size / 2,
      s"zorder relayout kept ${keptAfter.size} vs range's ${keptBefore.size} of $tot")
    assert(Snapshot.read(spark, t, preds)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      visibleBefore.filter(id => id >= 1000 && id <= 1999 &&
        { val b = (id * 2654435761L) % 8000; b >= 1000 && b <= 1999 }))
    // later commits arrange by the NEW layout property
    Snapshot.merge(spark, t,
      Seq((9000L, 123L, "x", "p0")).toDF("id", "b", "payload", "part"),
      spark.emptyDataset[Long].toDF("id"))
    assert(Snapshot.readManifest(t, 4).layout ===
      Snapshot.Layout(32, "zorder", Seq("id", "b")))
    // rollback restores the OLD files and the OLD layout property
    Snapshot.rollback(spark, t, 2)
    assert(Snapshot.readManifest(t, 5).layout ===
      Snapshot.Layout(32, "range", Nil))
    assert(Snapshot.fsck(spark, t).isEmpty)
    // z-order keys must exist and be identity-mapped
    intercept[IllegalArgumentException] {
      Snapshot.relayout(spark, t, 16, "zorder", Seq("nope"))
    }
    Snapshot.renameColumn(spark, t, "payload", "note")
    intercept[IllegalArgumentException] {
      Snapshot.relayout(spark, t, 16, "zorder", Seq("note"))
    }
  }

  test("merge validations: schema mismatch, upsert∩delete overlap, bad partition value") {
    val t = fresh("validate")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val noKeys = Seq.empty[Long].toDF("id")
    def ups(rows: (Long, String, String)*): DataFrame =
      rows.toDF("id", "payload", "part")
    val overlap = "requirement failed: snapshot merge: key(s) present in " +
      "BOTH upserts and deleteKeys — remove the ambiguity upstream"
    def dup(n: Int, key: String) = s"requirement failed: snapshot merge: " +
      s"upserts deliver $n rows for key '$key' — the keyed format admits " +
      "one row per key; dedupe the delivery upstream (SQL MERGE: a source " +
      "with duplicate ON keys, or a compound-ON NOT MATCHED insert " +
      "colliding with a BY SOURCE update)"
    def badPart(v: String) = s"snapshot: partition value '$v' for 'part' " +
      "is null or needs hive escaping — unsupported"
    // each delivery with the one message it must fail with; several
    // guards failing at once report the first of overlap, duplicate
    // key, partition value
    val cases: Seq[(String, DataFrame, DataFrame, String)] = Seq(
      ("schema", Seq((1L, "x")).toDF("id", "payload"), noKeys,
        "requirement failed: snapshot merge: upserts lack table column(s) part"),
      ("overlap", ups((1L, "x", "p1")), Seq(1L).toDF("id"), overlap),
      ("duplicate", ups((9L, "x", "p1"), (9L, "y", "p2")), noKeys, dup(2, "9")),
      ("partition", ups((9L, "x", "bad value!")), noKeys, badPart("bad value!")),
      ("null partition", ups((9L, "x", null)), noKeys, badPart("null")),
      ("overlap+duplicate+partition",
        ups((1L, "x", "p1"), (1L, "y", "bad value!")), Seq(1L, 2L).toDF("id"), overlap),
      ("overlap+partition", ups((9L, "x", "bad value!")), Seq(9L).toDF("id"), overlap),
      ("duplicate+partition",
        ups((9L, "x", "bad value!"), (9L, "y", "p1"), (9L, "z", "p1")), noKeys,
        dup(3, "9")))
    for ((name, u, d, msg) <- cases) {
      val merged = intercept[IllegalArgumentException](Snapshot.merge(spark, t, u, d))
      assert(merged.getMessage === msg, s"merge: $name")
      val staged = intercept[IllegalArgumentException](Snapshot.stageMerge(spark, t, u, d))
      assert(staged.getMessage === msg, s"stageMerge: $name")
    }
    assert(Snapshot.currentVersion(t) == 1) // no partial commits
    val dirs = Files.list(Paths.get(t, "files"))
    try assert(!dirs.iterator().asScala.exists(_.getFileName.toString.startsWith("_staging-")),
      "a refused stage writes no files")
    finally dirs.close()
  }

  /** The distinct SQL executions among `jobs`. */
  private def executionsOf(jobs: Seq[java.util.Properties]): Seq[String] =
    jobs.flatMap(j => Option(j.getProperty("spark.sql.execution.id"))).distinct

  test("a merge with upserts and deletes runs two SQL executions: pre-flight, write") {
    val t = fresh("executions")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val (st, jobs) = jobsStarted(commitV2(t))
    assert(st.version == 2)
    val executions = executionsOf(jobs)
    assert(executions.size === 2, s"executions: ${executions.mkString(",")}")
    assert(rowsOf(Snapshot.readLatest(spark, t)) == v2Expected)
  }

  test("a create runs one SQL execution, its write; a stageMerge two: pre-flight, write") {
    val t = fresh("executions_create")
    val (st, created) = jobsStarted(Snapshot.create(spark, t, seedDf, "id", "part",
      statsCols = Seq("payload"), bloomCols = Seq("payload"), hllCols = Seq("payload")))
    assert(st.version == 1 && st.filesWritten > 0)
    assert(executionsOf(created).size === 1, s"create: ${executionsOf(created).mkString(",")}")
    val (staged, stagedJobs) = jobsStarted(Snapshot.stageMerge(spark, t,
      Seq((2L, "bravo2", "p1"), (9L, "india", "p2"), (6L, "foxtrot2", "p1"))
        .toDF("id", "payload", "part"), Seq(5L, 8L).toDF("id")))
    assert(executionsOf(stagedJobs).size === 2,
      s"stageMerge: ${executionsOf(stagedJobs).mkString(",")}")
    assert(Snapshot.commitStaged(spark, staged).version == 2)
    assert(rowsOf(Snapshot.readLatest(spark, t)) == v2Expected)
  }

  // ---- a merge's rewrite on a table with no declared layout is
  // arranged by partition: one file per rewritten partition

  /** A no-layout table created from 400 rows spread over 8 tasks × 4
    * partitions (32 files at v1), then four merges through `commit`,
    * each touching all 4 partitions with deliveries spread over 8
    * tasks; each must write one file per rewritten partition, and the
    * rows must equal the relational replay. */
  private def eachMergeWritesOneFilePerPartition(tag: String)(
      commit: (String, DataFrame, DataFrame) => Snapshot.CommitStats): Unit = {
    val t = fresh(tag)
    def frame(rows: Map[Long, String]): DataFrame =
      rows.toSeq.map { case (k, v) => (k, v, s"p${k % 4}") }
        .toDF("id", "payload", "part").repartition(8)
    var model = (0L until 400L).map(k => k -> s"v$k").toMap
    Snapshot.create(spark, t, frame(model), "id", "part")
    assert(Snapshot.readManifest(t, 1).files.size == 32,
      "fixture: 8 tasks × 4 partitions")
    for (round <- 1L to 4L) {
      // per partition p: two revisions, one new key and one delete
      val ups = (0L until 4L).flatMap(p =>
        Seq(4 * round + p, 4 * (round + 10) + p, 1000 + 4 * round + p))
        .map(k => k -> s"r$round-$k").toMap
      val dels = (0L until 4L).map(p => 200 + 4 * round + p)
      val st = commit(t, frame(ups), dels.toDF("id").repartition(8))
      model = model -- dels ++ ups
      assert(st.rewrittenPartitions == Seq("p0", "p1", "p2", "p3"))
      assert(st.filesWritten == st.rewrittenPartitions.size, s"merge $round")
      assert(Snapshot.readManifest(t, st.version).files.size == 4, s"merge $round")
    }
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      model.map { case (k, v) => (k, v, s"p${k % 4}") }.toSet)
    assert(Snapshot.fsck(spark, t).isEmpty)
  }

  test("merge on a table with no declared layout writes one file per rewritten partition") {
    eachMergeWritesOneFilePerPartition("merge_files")(Snapshot.merge(spark, _, _, _))
  }

  test("stageMerge + commitStaged on a table with no declared layout writes one file per rewritten partition") {
    eachMergeWritesOneFilePerPartition("staged_files") { (t, u, d) =>
      Snapshot.commitStaged(spark, Snapshot.stageMerge(spark, t, u, d))
    }
  }

  test("a merge splits a rewritten partition above the advisory size into several files") {
    val t = fresh("merge_split")
    val rows = spark.range(0, 20000).select(col("id"),
      concat(lit("payload "), col("id")).as("payload"),
      concat(lit("p"), col("id") % 2).as("part"))
    Snapshot.create(spark, t, rows.repartition(8), "id", "part")
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    val st = try Snapshot.merge(spark, t,
        Seq((1L, "x", "p1"), (2L, "y", "p0")).toDF("id", "payload", "part"),
        Seq(3L).toDF("id"))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(st.rewrittenPartitions == Seq("p0", "p1"))
    val m = Snapshot.readManifest(t, st.version)
    for (p <- Seq("p0", "p1"))
      assert(m.partitions(p).size > 1, s"$p: ${m.partitions(p).size} file(s)")
    assert(Snapshot.readLatest(spark, t).count() == 19999)
    assert(Snapshot.readLatest(spark, t).filter(col("id") <= 3)
      .select("id", "payload").as[(Long, String)].collect().toSet ==
      Set((0L, "payload 0"), (1L, "x"), (2L, "y")))
    assert(Snapshot.fsck(spark, t).isEmpty)
  }

  test("a declared fileRanges layout arranges a merge's write itself: one file per key range") {
    val t = fresh("merge_ranges")
    val rows = spark.range(0, 300).select(col("id"),
      concat(lit("v"), col("id")).as("payload"), lit("p1").as("part"))
    Snapshot.create(spark, t, rows, "id", "part", statsCols = Seq("id"), fileRanges = 3)
    val st = Snapshot.merge(spark, t,
      Seq((1L, "x", "p1"), (301L, "y", "p1")).toDF("id", "payload", "part"),
      Seq(5L).toDF("id"))
    assert(st.filesWritten == 3)
    // disjoint ascending id ranges: the range shuffle, not a rebalance
    val ranges = Snapshot.readManifest(t, st.version).files
      .map(f => (f.stats("id").min.get.toLong, f.stats("id").max.get.toLong))
      .sortBy(_._1)
    assert(ranges.size == 3)
    ranges.sliding(2).foreach { case Seq(a, b) => assert(a._2 < b._1, ranges) }
    assert(Snapshot.readLatest(spark, t).count() == 300)
  }

  test("each merge records the hull of the keys it delivered") {
    val t = fresh("hull")
    Snapshot.create(spark, t, seedDf, "id", "part")
    def mergeBounds(upserts: DataFrame, deletes: DataFrame): Option[Snapshot.KeyBounds] =
      Snapshot.deliveryBoundsOf(t, Snapshot.merge(spark, t, upserts, deletes).version)
    // the hull spans both sides: upserts 2..9, deletes 5 and 12
    val mixed = mergeBounds(
      Seq((2L, "b", "p1"), (9L, "i", "p2")).toDF("id", "payload", "part"),
      Seq(5L, 12L).toDF("id"))
    assert(mixed === Some(Snapshot.KeyBounds(empty = false,
      Map("id" -> Snapshot.ColStats("num", Some("2"), Some("12"), 0L)))))
    val noRows = Seq.empty[(Long, String, String)].toDF("id", "payload", "part")
    assert(mergeBounds(noRows, Seq.empty[Long].toDF("id")) ===
      Some(Snapshot.KeyBounds(empty = true, Map.empty)))
    // a NULL key component never equals anything: nothing conflictable
    assert(mergeBounds(noRows, Seq(Option.empty[Long]).toDF("id")) ===
      Some(Snapshot.KeyBounds(empty = true, Map.empty)))
    // a non-deterministic source records no bounds (unknown)
    assert(mergeBounds(
      Seq((20L, "p3")).toDF("id", "part")
        .withColumn("payload", rand().cast("string")).select("id", "payload", "part"),
      Seq.empty[Long].toDF("id")) === None)
  }

  test("compact rewrites only fragmented partitions as a commit; rows identical, files reduced, history intact") {
    val t = fresh("compact")
    // build fragmentation: a create with one task per row, so p1's
    // three rows are three files (a merge rewrites each partition it
    // touches as one file), then 4 single-row merges into p2
    val spread = spark.createDataFrame(
      spark.sparkContext.parallelize(seedDf.collect().toSeq, 8), seedDf.schema)
    Snapshot.create(spark, t, spread, "id", "part")
    (1 to 4).foreach { i =>
      Snapshot.merge(spark, t,
        upserts = Seq((100L + i, s"extra$i", "p2")).toDF("id", "payload", "part"),
        deleteKeys = spark.emptyDataset[Long].toDF("id"))
    }
    val before = Snapshot.readManifest(t, 5)
    assert(before.partitions("p1").size > 2, "p1 should be fragmented")
    val p4Before = before.partitions("p4")
    val rowsBefore = rowsOf(Snapshot.readLatest(spark, t))

    val st = Snapshot.compact(spark, t, maxFilesPerPartition = 2)
    assert(st.version == 6)
    val after = Snapshot.readManifest(t, 6)
    assert(after.partitions("p1").size == 1, "p1 compacts to one file")
    assert(after.partitions("p4") == p4Before, "unfragmented partition carried forward")
    assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsBefore, "compaction is a pure layout commit")
    assert(rowsOf(Snapshot.readAt(spark, t, 5)) == rowsBefore, "pre-compaction version still readable")
    assert(after.op == "compact")
    // stats survive the rewrite (manifest still prunes)
    assert(after.partitions("p1").head.stats.contains("id"))
  }

  test("metadata reach: saveMode=snapshot bootstraps then commits; source format=snapshot time-travels by version option") {
    val t = fresh("meta")
    val sink = graft.meta.SinkSpec(
      input = "in", name = "snap_sink", paths = Seq(t),
      format = "parquet", saveMode = "snapshot",
      partitionBy = Seq("part"), mergeKey = "id", statsCols = Seq("id"),
      bloomCols = Seq("payload"))
    graft.sinks.Writers.write(seedDf, sink) // bootstrap → v1
    assert(Snapshot.currentVersion(t) == 1)
    val incoming = Seq(
      (2L, "bravo-meta", "p1", false),
      (5L, "ignored", "p2", true)).toDF("id", "payload", "part", "__deleted")
    graft.sinks.Writers.write(incoming, sink) // merge commit → v2
    assert(Snapshot.currentVersion(t) == 2)
    def viaSource(version: Option[String]) =
      graft.sources.Readers.read(spark, graft.meta.SourceSpec(
        name = "snap_src", path = t, format = "snapshot",
        options = version.map("version" -> _).toMap))
    assert(rowsOf(viaSource(None)) ==
      rowsOf(seedDf.filter(col("id") =!= 5L))
        .map { case (2L, _, p) => (2L, "bravo-meta", p); case r => r })
    assert(rowsOf(viaSource(Some("1"))) == rowsOf(seedDf)) // time travel
    // manifest stats + blooms reached the metadata-built table: the
    // bloom column declared in JSON serves point lookups
    assert(Snapshot.readManifest(t, 2).statsCols == Seq("id"))
    assert(Snapshot.readManifest(t, 2).bloomCols == Seq("payload"))
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("payload", Seq("bravo-meta"))))
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(Snapshot.prune(t, Seq(Snapshot.InPred("payload", Seq("no-such-payload"))))._1.isEmpty)
  }

  test("metadata reach: snapshotTag pins the committed version; source option tag reads it past later commits") {
    val t = fresh("metatag")
    val sink = graft.meta.SinkSpec(
      input = "in", name = "snap_sink", paths = Seq(t),
      format = "parquet", saveMode = "snapshot",
      partitionBy = Seq("part"), mergeKey = "id",
      snapshotTag = "corpus-2026-08-14")
    graft.sinks.Writers.write(seedDf, sink) // v1, tagged
    assert(Snapshot.tags(t) == Map("corpus-2026-08-14" -> 1))
    // later untagged commit moves the tip, not the tag
    graft.sinks.Writers.write(
      Seq((9L, "india", "p2")).toDF("id", "payload", "part"),
      sink.copy(snapshotTag = ""))
    assert(Snapshot.currentVersion(t) == 2)
    val pinned = graft.sources.Readers.read(spark, graft.meta.SourceSpec(
      name = "snap_src", path = t, format = "snapshot",
      options = Map("tag" -> "corpus-2026-08-14")))
    assert(rowsOf(pinned) == rowsOf(seedDf),
      "the tagged read must serve the pinned version, not the tip")
    // Schedule.bind interpolates ${run_date} into the tag
    val flow = graft.meta.DataflowSpec(name = "f", sources = Nil,
      transformations = Nil,
      sinks = Seq(sink.copy(snapshotTag = "corpus-${run_date}")))
    val bound = graft.meta.Schedule.bind(flow,
      java.time.Instant.parse("2026-08-14T00:00:00Z"), "daily")
    assert(bound.sinks.head.snapshotTag == "corpus-2026-08-14")
    // unknown tag on the source is a clear error
    val e = intercept[IllegalArgumentException] {
      graft.sources.Readers.read(spark, graft.meta.SourceSpec(
        name = "snap_src", path = t, format = "snapshot",
        options = Map("tag" -> "nope")))
    }
    assert(e.getMessage.contains("no tag"))
  }

  test("SnapshotTool CLI verbs: history, fsck exit codes, compact, vacuum, rollback") {
    val t = fresh("tool")
    Snapshot.create(spark, t, seedDf, "id", "part")
    commitV2(t)
    val (hist, hc) = graft.SnapshotTool.run(spark, Seq("history", t))
    assert(hc == 0 && hist.size == 2 && hist.head.startsWith("v1"))
    assert(graft.SnapshotTool.run(spark, Seq("fsck", t))._2 == 0)
    val (_, rc) = graft.SnapshotTool.run(spark, Seq("rollback", t, "1"))
    assert(rc == 0 && Snapshot.currentVersion(t) == 3)
    assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))
    assert(graft.SnapshotTool.run(spark, Seq("vacuum", t, "2"))._2 == 0)
    assert(graft.SnapshotTool.run(spark, Seq("compact", t, "0"))._2 == 0)
    assert(graft.SnapshotTool.run(spark, Seq("nope"))._2 == 2)
    // DML verbs: a numeric range delete, then a SQL-expression update
    assert(graft.SnapshotTool.run(spark,
      Seq("delete-where", t, "id", "7", "8"))._2 == 0)
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!col("id").between(7, 8))))
    assert(graft.SnapshotTool.run(spark, Seq("update-where", t, "id", "1", "2",
      "payload=upper(payload)"))._2 == 0)
    assert(Snapshot.readLatest(spark, t).filter(col("id") <= 2)
      .select("payload").as[String].collect().toSet == Set("ALPHA", "BRAVO"))
    // fsck flags a broken table with exit 1
    Files.delete(Paths.get(t,
      Snapshot.readManifest(t, Snapshot.currentVersion(t)).files.head.path))
    assert(graft.SnapshotTool.run(spark, Seq("fsck", t))._2 == 1)
  }

  test("fsck: clean table reports nothing; missing file, tampered rows, and orphans are found") {
    val t = fresh("fsck")
    Snapshot.create(spark, t, seedDf, "id", "part")
    commitV2(t)
    assert(Snapshot.fsck(spark, t).isEmpty, "fresh table must audit clean")
    // orphan: a stray file a crashed writer left behind
    val orphan = Paths.get(t, "files", "c00000001", "stray.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    // missing: delete one referenced data file of v1
    val victim = Snapshot.readManifest(t, 1).partitions("p2").head.path
    Files.delete(Paths.get(t, victim))
    val issues = Snapshot.fsck(spark, t)
    assert(issues.exists(i => i.problem == "missing on disk" && i.file == victim))
    assert(issues.exists(i => i.problem.startsWith("orphan")))
    // current version's files are intact, so no row-count findings
    assert(!issues.exists(_.problem.contains("row count")))
  }

  test("additive schema evolution: merge with a new column; old rows null-filled; old versions keep the old schema; compact preserves the evolved schema") {
    val t = fresh("evolve")
    Snapshot.create(spark, t, seedDf, "id", "part")
    // v2: upserts carry a NEW 'score' column — table schema evolves
    val ups = Seq((2L, "bravo2", "p1", 0.9), (9L, "india", "p2", 0.5))
      .toDF("id", "payload", "part", "score")
    Snapshot.merge(spark, t, ups, spark.emptyDataset[Long].toDF("id"))
    val latest = Snapshot.readLatest(spark, t)
    assert(latest.columns.sorted.toSeq == Seq("id", "part", "payload", "score"))
    val byId = latest.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byId(2L).contains(0.9) && byId(9L).contains(0.5))
    // survivors in the rewritten partitions AND rows in untouched
    // partitions (old files, manifest-schema read) are null-filled
    assert(byId(1L).isEmpty, "survivor row in rewritten partition")
    assert(byId(8L).isEmpty, "row in untouched partition (old file)")
    // time travel serves the OLD schema
    assert(!Snapshot.readAt(spark, t, 1).columns.contains("score"))
    // type conflicts on shared columns are rejected
    intercept[IllegalArgumentException] {
      Snapshot.merge(spark, t,
        Seq((3L, 7, "p1", 0.1)).toDF("id", "payload", "part", "score"),
        spark.emptyDataset[Long].toDF("id"))
    }
    // a column the table has cannot be silently dropped
    intercept[IllegalArgumentException] {
      Snapshot.merge(spark, t,
        Seq((3L, "x", "p1")).toDF("id", "payload", "part"),
        spark.emptyDataset[Long].toDF("id"))
    }
    // compact across mixed-schema files keeps the evolved schema
    Snapshot.compact(spark, t, maxFilesPerPartition = 0)
    val compacted = Snapshot.readLatest(spark, t)
    assert(compacted.columns.sorted.toSeq == Seq("id", "part", "payload", "score"))
    assert(compacted.count() == latest.count())
  }

  test("wapMerge audit: a poison delete batch fails while staged; the table keeps its last good version") {
    val t = fresh("cdcwap")
    val audit = Seq("row_count:2-1000000")
    def rows(rs: (Long, String, String)*) = rs.toDF("id", "payload", "part")
    def keys(ks: Long*) = ks.toDF("id")
    Snapshot.create(spark, t, rows((1L, "a", "p1"), (2L, "b", "p1"),
      (3L, "c", "p2")), "id", "part", statsCols = Seq("id"))
    // healthy batch publishes
    Snapshot.wapMerge(spark, t, rows((4L, "d", "p2")), keys(), audit)
    assert(Snapshot.currentVersion(t) == 2)
    // poison batch: a delete storm leaving 1 < 2 rows — the post-state
    // audit rejects while staged, the merge THROWS, and the table keeps v2
    val e = intercept[Snapshot.ExpectationViolationException] {
      Snapshot.wapMerge(spark, t, rows(), keys(1L, 2L, 4L), audit)
    }
    assert(e.getMessage.contains("row_count_between(2,1000000)"))
    assert(Snapshot.currentVersion(t) == 2, "no torn version from the poison batch")
    assert(Snapshot.readLatest(spark, t).count() == 4)
    assert(Snapshot.fsck(spark, t).isEmpty, "aborted stage leaves no residue")
  }

  test("delete-only merge and no-op merge both commit clean versions") {
    val t = fresh("delonly")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val st = Snapshot.merge(spark, t,
      upserts = seedDf.limit(0),
      deleteKeys = Seq(4L, 5L).toDF("id")) // empties p2
    assert(st.version == 2 && st.droppedPartitions == Seq("p2"))
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!col("id").isin(4L, 5L))))
    // keys absent from the table: a committed no-op
    val st2 = Snapshot.merge(spark, t,
      upserts = seedDf.limit(0), deleteKeys = Seq(999L).toDF("id"))
    assert(st2.version == 3 && st2.rewrittenPartitions.isEmpty)
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf.filter(!col("id").isin(4L, 5L))))
  }

  test("CHECK constraints gate every commit path atomically; NULL predicates pass (SQL semantics)") {
    val t = fresh("constraints")
    val cons = Map("payload_present" -> "payload IS NOT NULL",
      "id_positive" -> "id > 0")
    // violating CREATE is rejected before anything lands
    intercept[Snapshot.ConstraintViolationException](
      Snapshot.create(spark, t,
        Seq((0L, "zero", "p1")).toDF("id", "payload", "part"),
        "id", "part", constraints = cons))
    assert(Snapshot.currentVersion(t) == 0, "rejected create must leave no table")
    // valid create persists the constraints in the manifest
    Snapshot.create(spark, t, seedDf, "id", "part", constraints = cons)
    assert(Snapshot.readManifest(t, 1).constraints === cons)
    // violating merge: typed rejection, version untouched, zero residue
    intercept[Snapshot.ConstraintViolationException](Snapshot.merge(spark, t,
      upserts = Seq((9L, null.asInstanceOf[String], "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id")))
    assert(Snapshot.currentVersion(t) == 1)
    // the optimistic path enforces the same gate (before staging files)
    intercept[Snapshot.ConstraintViolationException](
      Snapshot.mergeOptimistic(spark, t,
        upserts = Seq((-1L, "neg", "p1")).toDF("id", "payload", "part"),
        deleteKeys = spark.emptyDataset[Long].toDF("id")))
    val ls = Files.list(Paths.get(t, "files"))
    val staging = try ls.iterator().asScala.filter(
        _.getFileName.toString.startsWith("_staging-")).toList
      finally ls.close()
    assert(staging.isEmpty, "a rejected stage must write nothing")
    // valid merge still flows; constraints carry to the new manifest
    // and to compact commits
    assert(Snapshot.merge(spark, t,
      upserts = Seq((9L, "india", "p2")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id")).version == 2)
    assert(Snapshot.readManifest(t, 2).constraints === cons)
    assert(Snapshot.compact(spark, t).version == 3)
    assert(Snapshot.readManifest(t, 3).constraints === cons)
    // NULL predicate passes: a constraint over a column that is null
    // in the incoming row evaluates UNKNOWN, which SQL CHECK admits
    val t2 = fresh("constraints_null")
    Snapshot.create(spark, t2, seedDf, "id", "part",
      constraints = Map("payload_len" -> "length(payload) < 100"))
    assert(Snapshot.merge(spark, t2,
      upserts = Seq((9L, null.asInstanceOf[String], "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id")).version == 2)
  }

  test("optimistic commit: disjoint-partition writers both succeed; the staged commit rebases onto the concurrent one") {
    val t = fresh("opt_disjoint")
    Snapshot.create(spark, t, seedDf, "id", "part")
    // writer A stages a p1-only change (no lock held afterwards)
    val staged = Snapshot.stageMerge(spark, t,
      upserts = Seq((1L, "alpha2", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    assert(!Files.exists(Paths.get(t, "_log", "_commit.lock")),
      "staging must not hold the commit lock")
    // writer B commits a p2-only change meanwhile
    val b = Snapshot.merge(spark, t,
      upserts = Seq((9L, "india", "p2")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    assert(b.version == 2)
    // A publishes: rebased to v3, carrying B's p2 files forward
    val a = Snapshot.commitStaged(spark, staged)
    assert(a.version == 3 && a.rewrittenPartitions == Seq("p1"))
    val m3 = Snapshot.readManifest(t, 3)
    assert(m3.partitions("p2") == Snapshot.readManifest(t, 2).partitions("p2"),
      "the concurrent commit's p2 entries must carry forward verbatim")
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf) - ((1L, "alpha", "p1")) +
        ((1L, "alpha2", "p1")) + ((9L, "india", "p2")))
    // no staging droppings left behind
    val ls = Files.list(Paths.get(t, "files"))
    val staging = try ls.iterator().asScala.filter(
        _.getFileName.toString.startsWith("_staging-")).toList
      finally ls.close()
    assert(staging.isEmpty, "published staging dir must have been renamed away")
  }

  test("rebase fast path: provably-disjoint staged key ranges publish with ZERO Spark jobs under the lock; overlapping ranges still probe and conflict") {
    val t = fresh("opt_fastpath")
    Snapshot.create(spark, t, seedDf, "id", "part")
    // A stages keys 100-101 (disjoint from everything)
    val staged = Snapshot.stageMerge(spark, t,
      upserts = Seq((100L, "x", "p1"), (101L, "y", "p1"))
        .toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    // concurrent writer commits keys 200-201 in ANOTHER partition
    Snapshot.merge(spark, t,
      upserts = Seq((200L, "c", "p2"), (201L, "d", "p2"))
        .toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    // count Spark jobs during the publish: the key-overlap probe is
    // the only job the rebase could launch, and disjoint stats must
    // disprove it driver-side
    val (st, jobs) = jobsStarted(Snapshot.commitStaged(spark, staged))
    assert(st.version == 3)
    assert(jobs.isEmpty,
      s"disjoint rebase must be pure metadata, launched ${jobs.size} job(s)")
    assert(rowsOf(Snapshot.readLatest(spark, t)).contains((100L, "x", "p1")))
    assert(rowsOf(Snapshot.readLatest(spark, t)).contains((200L, "c", "p2")))

    // OVERLAPPING key ranges: the fast path must NOT skip the probe —
    // a concurrent commit moving one of the staged keys conflicts
    val staged2 = Snapshot.stageMerge(spark, t,
      upserts = Seq((300L, "e", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    Snapshot.merge(spark, t, // same key lands concurrently in p3
      upserts = Seq((300L, "stolen", "p3")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val e = intercept[Snapshot.CommitConflictException](
      Snapshot.commitStaged(spark, staged2))
    assert(e.getMessage.contains("same key"))
    staged2.abort()
  }

  test("optimistic commit: concurrent rewrite of the SAME partition conflicts; mergeOptimistic recomputes and converges") {
    val t = fresh("opt_conflict")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val staged = Snapshot.stageMerge(spark, t,
      upserts = Seq((1L, "alpha2", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    // concurrent writer also rewrites p1 (different key)
    Snapshot.merge(spark, t,
      upserts = Seq((2L, "bravo2", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val e = intercept[Snapshot.CommitConflictException](
      Snapshot.commitStaged(spark, staged))
    assert(e.getMessage.contains("p1"))
    staged.abort()
    // the retry loop recomputes against v2 and lands BOTH changes
    val st = Snapshot.mergeOptimistic(spark, t,
      upserts = Seq((1L, "alpha2", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    assert(st.version == 3)
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      rowsOf(seedDf) - ((1L, "alpha", "p1")) - ((2L, "bravo", "p1")) +
        ((1L, "alpha2", "p1")) + ((2L, "bravo2", "p1")))
    val ls = Files.list(Paths.get(t, "files"))
    val staging = try ls.iterator().asScala.filter(
        _.getFileName.toString.startsWith("_staging-")).toList
      finally ls.close()
    assert(staging.isEmpty, "aborted stage must have been cleaned up")
  }

  test("optimistic commit: a concurrent upsert of the SAME key in a partition the stage did not touch is a key conflict") {
    val t = fresh("opt_key")
    Snapshot.create(spark, t, seedDf, "id", "part")
    // A stages an upsert of NEW key 100 landing in p1 (affected = {p1})
    val staged = Snapshot.stageMerge(spark, t,
      upserts = Seq((100L, "new-a", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    // B commits the same key 100 into p5 — disjoint PARTITIONS, same key
    Snapshot.merge(spark, t,
      upserts = Seq((100L, "new-b", "p5")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val e = intercept[Snapshot.CommitConflictException](
      Snapshot.commitStaged(spark, staged))
    assert(e.getMessage.contains("same key"))
    staged.abort()
    // recomputing sees key 100 resident in p5 and relocates it to p1
    Snapshot.mergeOptimistic(spark, t,
      upserts = Seq((100L, "new-a", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val rows = rowsOf(Snapshot.readLatest(spark, t))
    assert(rows.count(_._1 == 100L) == 1, "key 100 must exist exactly once")
    assert(rows.contains((100L, "new-a", "p1")))
  }

  test("vacuum skips a live staging dir, reaps a stale one; fsck reports staging distinctly") {
    val t = fresh("opt_vacuum")
    Snapshot.create(spark, t, seedDf, "id", "part")
    commitV2(t)
    val live = Snapshot.stageMerge(spark, t,
      upserts = Seq((3L, "charlie3", "p1")).toDF("id", "payload", "part"),
      deleteKeys = spark.emptyDataset[Long].toDF("id"))
    val liveDir = Paths.get(t, "files", live.stagingName.get)
    // fabricate an ABANDONED stage: old mtime
    val staleDir = Paths.get(t, "files", "_staging-dead")
    Files.createDirectories(staleDir)
    Files.write(staleDir.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(staleDir,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7 * 3600 * 1000L))

    val issues = Snapshot.fsck(spark, t)
    assert(issues.count(_.problem.contains("staging dir")) == 2)
    assert(!issues.exists(_.problem.contains("orphan")),
      "staging files must not be misreported as orphans")

    Snapshot.vacuum(spark, t, retainLast = 2)
    assert(Files.exists(liveDir), "live staging dir must survive vacuum")
    assert(!Files.exists(staleDir), "stale staging dir must be reaped")
    // the live stage still publishes cleanly after the vacuum
    val st = Snapshot.commitStaged(spark, live)
    assert(st.version == 3)
    assert(rowsOf(Snapshot.readLatest(spark, t)) ==
      v2Expected - ((3L, "charlie", "p1")) + ((3L, "charlie3", "p1")))
  }

  // --------------------------------------------------- bloom point lookups

  /** 64 rows, 4 partitions, range layout on id → tokens (hash-
    * scrambled, UNCORRELATED with the layout) have near-full-range
    * per-file spans: min/max stats cannot prune a token lookup, the
    * bloom can. */
  private def bloomSeed = (1L to 64L)
    .map(i => (i, s"w${i * 2654435761L % 997}", s"p${i % 4}"))
    .toDF("id", "token", "part")

  test("bloom point lookup: absent key touches ZERO files; present key only its own") {
    val t = fresh("bloom")
    Snapshot.create(spark, t, bloomSeed, "id", "part", statsCols = Seq("id"),
      fileRanges = 8, bloomCols = Seq("token"), bloomBits = 4096)
    val m = Snapshot.readManifest(t, 1)
    assert(m.files.size > 4, "fixture must be multi-file")
    assert(m.files.forall(_.blooms.contains("token")))

    // absent key: bloom proves absence — no data file is opened at all
    val (keptAbsent, total) = Snapshot.prune(t, Seq(Snapshot.InPred("token", Seq("nope"))))
    assert(keptAbsent.isEmpty, s"absent key kept ${keptAbsent.size} of $total files")
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("token", Seq("nope")))).count() == 0)

    // present key: pruned to a strict subset, result exact
    val probe = s"w${17L * 2654435761L % 997}"
    val (kept, _) = Snapshot.prune(t, Seq(Snapshot.InPred("token", Seq(probe))))
    assert(kept.nonEmpty && kept.size < total,
      s"present key kept ${kept.size} of $total files — bloom pruned nothing")
    val got = Snapshot.read(spark, t, Seq(Snapshot.InPred("token", Seq(probe))))
      .select("id").as[Long].collect().toSet
    assert(got == Set(17L))
  }

  test("bloom point lookup on the stats-tracked key combines range + bloom pruning") {
    val t = fresh("bloom_key")
    Snapshot.create(spark, t, bloomSeed, "id", "part", statsCols = Seq("id"),
      fileRanges = 8, bloomCols = Seq("id"), bloomBits = 4096)
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.InPred("id", Seq(33L))))
    assert(kept.nonEmpty && kept.size < total)
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("id", Seq(33L))))
      .select("token").as[String].collect().toSeq ==
      Seq(s"w${33L * 2654435761L % 997}"))
  }

  test("blooms survive merge: carried files keep theirs, fresh files get new ones, deleted key goes absent") {
    val t = fresh("bloom_merge")
    Snapshot.create(spark, t, bloomSeed, "id", "part", statsCols = Seq("id"),
      fileRanges = 8, bloomCols = Seq("token"), bloomBits = 4096)
    val before = Snapshot.readManifest(t, 1)
    // rewrite p1 only: revise id 5, insert id 101, delete id 9 (all p1)
    Snapshot.merge(spark, t,
      upserts = Seq((5L, "tok_revised", "p1"), (101L, "tok_new", "p1"))
        .toDF("id", "token", "part"),
      deleteKeys = Seq(9L).toDF("id"))
    val after = Snapshot.readManifest(t, 2)
    // untouched partitions carry IDENTICAL bloom bytes
    Seq("p0", "p2", "p3").foreach { p =>
      assert(after.partitions(p).map(f => (f.path, f.blooms("token").toSeq)) ==
        before.partitions(p).map(f => (f.path, f.blooms("token").toSeq)), p)
    }
    // the new tokens are findable, the deleted id's token is gone
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("token", Seq("tok_new"))))
      .select("id").as[Long].collect().toSeq == Seq(101L))
    val deletedTok = s"w${9L * 2654435761L % 997}"
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("token", Seq(deletedTok)))).count() == 0)
    // ...but still present when time-traveling to v1
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("token", Seq(deletedTok))), version = 1)
      .select("id").as[Long].collect().toSeq == Seq(9L))
  }

  // ------------------------------------------------------ predicate DML

  test("deleteWhere rewrites only admitting files; others carried byte-identical; result == relational delete") {
    val t = fresh("dml_del")
    val wide = spark.range(0, 4000).select(
      col("id"), concat(lit("doc "), col("id")).as("payload"),
      (col("id") % 4).cast("string").as("part"))
    Snapshot.create(spark, t, wide, "id", "part", fileRanges = 16)
    val before = Snapshot.readManifest(t, 1)
    val st = Snapshot.deleteWhere(spark, t, Seq(("id", 1000, 1399)))
    assert(st.version == 2)
    val after = Snapshot.readManifest(t, 2)
    assert(after.op == "delete")
    // untouched files (id ranges outside [1000,1399]) carried verbatim
    val candPaths = Snapshot.prune(t, Seq(Snapshot.RangePred("id", 1000, 1399)), 1)._1.map(_.path).toSet
    assert(candPaths.nonEmpty && candPaths.size < before.files.size,
      "fixture must prune to a strict subset")
    before.files.filterNot(f => candPaths.contains(f.path)).foreach { f =>
      assert(after.files.exists(_.path == f.path), s"${f.path} not carried") }
    // none of the rewritten (candidate) files survive in v2
    candPaths.foreach(p => assert(!after.files.exists(_.path == p)))
    // result semantics: exactly the relational delete
    assert(Snapshot.readLatest(spark, t).count() == 3600)
    assert(Snapshot.readLatest(spark, t)
      .filter(col("id").between(1000, 1399)).count() == 0)
    assert(Snapshot.readLatest(spark, t).agg(sum("id")).as[Long].head ==
      (0L until 4000L).sum - (1000L until 1400L).sum)
    // v1 still time-travels whole
    assert(Snapshot.readAt(spark, t, 1).count() == 4000)
  }

  test("updateWhere applies SET to matching rows only, reads pre-update values, blocks key/partition updates") {
    val t = fresh("dml_upd")
    val wide = spark.range(0, 2000).select(
      col("id"), (col("id") * 10).as("score"),
      (col("id") % 4).cast("string").as("part"))
    Snapshot.create(spark, t, wide, "id", "part", fileRanges = 8)
    val st = Snapshot.updateWhere(spark, t, Seq(("id", 500, 699)),
      Map("score" -> (col("score") + col("id")))) // references pre-update cols
    assert(st.version == 2)
    val got = Snapshot.readLatest(spark, t)
    assert(got.filter(col("id").between(500, 699))
      .filter(col("score") =!= col("id") * 11).count() == 0)
    assert(got.filter(!col("id").between(500, 699))
      .filter(col("score") =!= col("id") * 10).count() == 0)
    assert(got.count() == 2000)
    intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, t, Seq(("id", 0, 10)),
        Map("part" -> lit("p9")))
    }
  }

  test("DML no-op on a proven-absent predicate still commits an audit version; CHECK constraints gate updates") {
    val t = fresh("dml_check")
    val df = spark.range(0, 100).select(
      col("id"), (col("id") % 50 + 1).as("qty"),
      (col("id") % 2).cast("string").as("part"))
    Snapshot.create(spark, t, df, "id", "part",
      constraints = Map("qty_pos" -> "qty > 0"))
    // predicate outside the id range: zero candidate files, audit commit
    val st = Snapshot.deleteWhere(spark, t, Seq(("id", 5000, 6000)))
    assert(st.version == 2 && st.filesWritten == 0)
    assert(Snapshot.readManifest(t, 2).op == "delete")
    // an UPDATE that violates CHECK is rejected before anything commits
    intercept[Snapshot.ConstraintViolationException] {
      Snapshot.updateWhere(spark, t, Seq(("id", 0, 10)),
        Map("qty" -> (col("qty") * -1)))
    }
    assert(Snapshot.currentVersion(t) == 2)
    assert(Snapshot.readLatest(spark, t).filter(col("qty") <= 0).count() == 0)
  }

  test("merge refuses a delivery with duplicate keys; compound-unique expectations bar their columns from evolution") {
    val t = fresh("dupkey")
    Snapshot.create(spark, t, seedDf, "id", "part")
    val e = intercept[IllegalArgumentException] {
      Snapshot.merge(spark, t,
        upserts = Seq((50L, "a", "p1"), (50L, "b", "p1"))
          .toDF("id", "payload", "part"),
        deleteKeys = Seq.empty[Long].toDF("id"))
    }
    assert(e.getMessage.contains("one row per key"))
    assert(Snapshot.currentVersion(t) == 1, "refusal must not commit")
    // compound unique names EVERY +-joined column: dropping either
    // would brick all future delivery gates, so evolution bars both
    Snapshot.setExpectations(spark, t, Seq("unique:id+payload"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.dropColumn(spark, t, "payload")
    }
    assert(e2.getMessage.contains("expectation"))
  }

  test("age-based vacuum and expire_snapshots: between-commits cutoffs keep exactly the younger versions; tag pins survive either policy") {
    val t = fresh("vacage")
    Snapshot.create(spark, t, seedDf, "id", "part")         // v1
    Thread.sleep(25)
    val t1 = System.currentTimeMillis()                     // after v1
    Thread.sleep(25)
    commitV2(t)                                             // v2
    Thread.sleep(25)
    val t2 = System.currentTimeMillis()                     // after v2
    Thread.sleep(25)
    Snapshot.merge(spark, t,                                // v3
      upserts = Seq((50L, "x", "p1")).toDF("id", "payload", "part"),
      deleteKeys = Seq.empty[Long].toDF("id"))

    // AGE policy widens the COUNT policy (union): retainLast=1 alone
    // would keep only v3; retainHours reaching back past t1 also keeps
    // v2 (committed after t1) — v1 (older than the window) drops
    val hours = (System.currentTimeMillis() - t1) / 3600.0e3
    Snapshot.vacuum(spark, t, retainLast = 1, retainHours = hours)
    assert(Snapshot.history(t).map(_._1) == Seq(2, 3),
      "age window must retain v2 beside the count window's v3; v1 expires")
    assert(rowsOf(Snapshot.readAt(spark, t, 2)) == v2Expected)
    intercept[IllegalArgumentException] { Snapshot.readAt(spark, t, 1) }

    // expire_snapshots: absolute cutoff at t2 — v2 (committed before
    // t2) drops; the CURRENT version always survives; a tag pins
    Snapshot.tag(t, "keep2", 2)
    val vs1 = Snapshot.expireSnapshots(spark, t, t2)
    assert(Snapshot.history(t).map(_._1) == Seq(2, 3),
      "pinned v2 must survive an expire that would drop it")
    assert(vs1.manifestsDeleted == 0)
    Snapshot.untag(t, "keep2")
    Snapshot.expireSnapshots(spark, t, t2)
    assert(Snapshot.history(t).map(_._1) == Seq(3),
      "unpinned v2 expires at the t2 cutoff; the current v3 survives")
    assert(Snapshot.readLatest(spark, t).count() == 8)
  }

  test("string stats pruning compares in UTF-8 binary order (supplementary-plane text is never wrongly pruned)") {
    // '😀' (U+1F600) sorts ABOVE U+FFFF in UTF-8 bytes (F0 9F 98 80 >
    // EF BF BF) but BELOW it in Java's UTF-16 code-unit order (D83D <
    // FFFF). A file whose payload max is '😀' must therefore ADMIT a
    // range starting at '￿￿' — Java-order comparison would
    // prune it and silently lose the matching row (the read's
    // re-applied filter cannot resurrect a pruned file).
    val t = fresh("utf8ord")
    val df = Seq(
      (1L, "￿", "p1"), (2L, "😀", "p1"), // one file: min/max straddle the orders
      (3L, "alpha", "p2")).toDF("id", "payload", "part")
    Snapshot.create(spark, t, df, "id", "part", statsCols = Seq("payload"))
    val lo = "￿￿"
    val hi = "😀"
    // Spark itself agrees the emoji row matches the range
    assert(Snapshot.readLatest(spark, t)
      .filter(col("payload") >= lit(lo) && col("payload") <= lit(hi))
      .count() == 1)
    // bounded range, open bound (both through admits) and the served
    // read all keep the file and the row
    assert(Snapshot.prune(t, Seq(Snapshot.RangePred("payload", lo, hi)))._1.nonEmpty)
    assert(Snapshot.prune(t, Seq(Snapshot.BoundPred("payload", Some(lo), None)))._1.nonEmpty)
    assert(Snapshot.read(spark, t, Seq(Snapshot.RangePred("payload", lo, hi)))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the manifest-only MIN/MAX fold picks winners in UTF-8 order too:
    // max over {'￿','😀','alpha'} is '😀', not '￿'
    val agg = Snapshot.aggStats(spark, t, Seq("payload")).collect().head
    assert(agg.getAs[String]("max_payload") == "😀")
    assert(agg.getAs[String]("min_payload") == "alpha")
  }

  test("reads pruned to nothing start no Spark job and keep readLatest's columns: " +
    "40-file table, deletion vectors, renamed column under column mapping") {
    def rows(n: Int, parts: Int): DataFrame =
      (1 to n).map(i => (i.toLong, s"v$i", s"n$i", s"p${i % parts}"))
        .toDF("id", "payload", "note", "part")
    val wide = fresh("empty_read_wide")
    Snapshot.create(spark, wide, rows(40, 40), "id", "part", statsCols = Seq("payload"))
    val dv = fresh("empty_read_dv")
    Snapshot.create(spark, dv, rows(8, 2), "id", "part", statsCols = Seq("payload"))
    Snapshot.deleteMorKeys(spark, dv, Seq(3L).toDF("id"))
    val renamed = fresh("empty_read_renamed")
    Snapshot.create(spark, renamed, rows(8, 2), "id", "part", statsCols = Seq("payload"))
    Snapshot.renameColumn(spark, renamed, "note", "remark")
    // the three shapes the old `.limit(0)` read paid for: a listing job
    // above 32 paths, a deletion-vector read, a column-mapped projection
    val latestFiles = (t: String) => Snapshot.readManifest(t, Snapshot.currentVersion(t)).files
    assert(latestFiles(wide).size > 32)
    assert(latestFiles(dv).exists(_.dv.isDefined))
    assert(Snapshot.readManifest(renamed, Snapshot.currentVersion(renamed))
      .columnMap === Map("remark" -> "note"))

    for (t <- Seq(wide, dv, renamed)) {
      val reads = Seq(
        "read =" -> (() => Snapshot.read(spark, t,
          Seq(Snapshot.InPred("id", Seq(100000L))))),
        "read IN" -> (() => Snapshot.read(spark, t,
          Seq(Snapshot.InPred("id", Seq(100000L, 100001L))))),
        "read LIKE prefix" -> (() => Snapshot.read(spark, t,
          Seq(Snapshot.PrefixPred("payload", "zzz")))),
        "readEntries" -> (() => Snapshot.readEntries(spark, t, Snapshot.currentVersion(t), Nil)))
      val expected = Snapshot.readLatest(spark, t).dtypes.toSeq
      for ((what, read) <- reads) {
        val (df, jobs) = jobsStarted(read())
        assert(jobs.isEmpty, s"$what on $t started jobs building the frame: " +
          jobs.map(_.getProperty("spark.job.description")).mkString("; "))
        assert(df.dtypes.toSeq === expected, s"$what on $t")
        assert(df.count() === 0L, s"$what on $t")
      }
    }
  }

  test("prune and read read the manifest once, whatever the number of conjuncts or IN values") {
    val t = s"file://${fresh("one_manifest_read")}"
    val df = (0 until 400).map(i => (i.toLong, s"tok$i", s"p${i % 4}"))
      .toDF("id", "token", "part")
    Snapshot.create(spark, t, df, "id", "part", fileRanges = 8,
      bloomCols = Seq("token"))
    val granule = "graft.manifest.mtimeGranularityMs"
    def calls[T](body: => T): (T, Long) = {
      CountingLogStore.calls.set(0)
      val r = body
      (r, CountingLogStore.calls.get())
    }
    try {
      // a manifest memoized at once: every call below is a memo hit,
      // so a call count is the same however old the manifest is
      sys.props(granule) = "0"
      spark.conf.set("spark.graft.logstore.file", "graft.CountingLogStore")
      val one = Seq(Snapshot.RangePred("id", 100L, 199L))
      val three = one ++ Seq(Snapshot.BoundPred("part", Some("p1"), None),
        Snapshot.InPred("token", Seq("tok150", "tok151")))
      Snapshot.prune(t, one)
      val (_, c1) = calls(Snapshot.prune(t, one))
      val (_, c3) = calls(Snapshot.prune(t, three))
      assert(c1 > 0, "the table's metadata IO must flow through the counting store")
      assert(c3 == c1, s"3 conjuncts made $c3 LogStore calls, 1 conjunct $c1")
      val values = (0 until 50).map(i => s"tok${i * 7}")
      val (_, cIn1) = calls(Snapshot.prune(t, Seq(Snapshot.InPred("token", values.take(1)))))
      val ((keptIn, _), cIn50) = calls(Snapshot.prune(t, Seq(Snapshot.InPred("token", values))))
      assert(cIn50 == cIn1, s"50 IN values made $cIn50 LogStore calls, 1 value $cIn1")
      val (read3, cRead) = calls(Snapshot.read(spark, t, three))
      assert(cRead == c3, s"read made $cRead LogStore calls, its prune $c3")
      assert(read3.select("id").as[Long].collect().sorted.toSeq == Seq(150L, 151L))
      // an IN list keeps exactly the union of its single-value prunes
      val union = values.flatMap(v =>
        Snapshot.prune(t, Seq(Snapshot.InPred("token", Seq(v))))._1.map(_.path)).toSet
      assert(keptIn.map(_.path).toSet == union)
    } finally {
      spark.conf.unset("spark.graft.logstore.file")
      sys.props -= granule
    }
  }

  test("a deletion-vector-masked read is built without a Spark job") {
    val t = fresh("dv_read_no_job")
    Snapshot.create(spark, t, seedDf, "id", "part")
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 2L, 3L)))
    assert(Snapshot.readManifest(t, 2).files.exists(_.dv.isDefined))
    val (df, jobs) = jobsStarted(Snapshot.readLatest(spark, t))
    assert(jobs.isEmpty, "building the masked frame started jobs: " +
      jobs.map(_.getProperty("spark.job.description")).mkString("; "))
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 5L, 6L, 7L, 8L))
  }

  test("partition values that look like integers keep their spelling through create and merge") {
    val t = fresh("int_looking_parts")
    Snapshot.create(spark, t, Seq((1L, "a", "007"), (2L, "b", "007"),
      (3L, "c", "010")).toDF("id", "payload", "part"), "id", "part")
    Snapshot.merge(spark, t,
      upserts = Seq((4L, "d", "007")).toDF("id", "payload", "part"),
      deleteKeys = Seq.empty[Long].toDF("id"))
    assert(Snapshot.readManifest(t, 2).partitions.keySet == Set("007", "010"))
    assert(rowsOf(Snapshot.readLatest(spark, t)) == Set((1L, "a", "007"),
      (2L, "b", "007"), (3L, "c", "010"), (4L, "d", "007")))
  }

  test("fsck reports a data file whose size differs from the manifest's") {
    val t = fresh("fsck_size")
    Snapshot.create(spark, t, seedDf, "id", "part")
    assert(Snapshot.fsck(spark, t).isEmpty)
    val f = Snapshot.readManifest(t, 1).files.head
    // swap in another valid parquet file of a different size
    val other = fresh("fsck_size_other")
    seedDf.union(seedDf).coalesce(1).write.parquet(other)
    val src = Files.list(Paths.get(other)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(t, f.path)
    Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
    assert(Files.size(dst) != f.bytes)
    val issues = Snapshot.fsck(spark, t)
    assert(issues == Seq(Snapshot.FsckIssue(1, f.path,
      s"size ${Files.size(dst)} != manifest ${f.bytes}")), issues)
  }

  test("every data-writing commit kind rejected by a min_rows guard leaves no commit dir and frees its version") {
    def guarded(tag: String): String = {
      val t = fresh(s"guarded_$tag")
      Snapshot.create(spark, t, seedDf, "id", "part",
        guards = Map("min_rows" -> "6"))
      t
    }
    // kinds that keep the row count can only be rejected on a table
    // already below its floor, which only a guard-exempt rollback can
    // publish: stand one in that raises the floor past the 8 rows
    def belowFloor(tag: String): String = {
      val t = guarded(tag)
      val cur = Snapshot.currentVersion(t)
      Snapshot.writeManifest(t, Snapshot.readManifest(t, cur).copy(
        version = cur + 1, parent = cur, op = "rollback(floor)",
        guards = Map("min_rows" -> "9")))
      t
    }
    def addTwo(t: String): Snapshot.CommitStats =
      Snapshot.merge(spark, t, Seq((10L, "juliet", "p1"), (11L, "kilo", "p2"))
        .toDF("id", "payload", "part"), spark.emptyDataset[Long].toDF("id"))
    def deleting(ids: Long*): DataFrame = ids.toDF("id")
    def staged(t: String, ids: Long*): Snapshot.CommitStats =
      Snapshot.commitStaged(spark, Snapshot.stageMerge(spark, t,
        seedDf.limit(0), deleting(ids: _*)))
    val one = Seq((1L, "alpha", "p1")).toDF("id", "payload", "part")
    // (kind, table, rejected commit, permitted retry that must land at
    // the rejected version, then the kind itself when the retry is not)
    val kinds: Seq[(String, String, String => Any, String => Snapshot.CommitStats,
        Option[String => Snapshot.CommitStats])] = Seq(
      ("create", fresh("guarded_create"),
        t => Snapshot.create(spark, t, seedDf.filter($"id" <= 3), "id", "part",
          guards = Map("min_rows" -> "6")),
        t => Snapshot.create(spark, t, seedDf, "id", "part",
          guards = Map("min_rows" -> "6")), None),
      ("merge", guarded("merge"),
        t => Snapshot.merge(spark, t, seedDf.limit(0), deleting(1, 2, 3, 4)),
        t => Snapshot.merge(spark, t, seedDf.limit(0), deleting(8)), None),
      ("stageMerge+commitStaged", guarded("staged"),
        t => staged(t, 1, 2, 3, 4), t => staged(t, 8), None),
      ("compact", belowFloor("compact"),
        t => Snapshot.compact(spark, t, maxFilesPerPartition = 0), addTwo,
        Some(t => Snapshot.compact(spark, t, maxFilesPerPartition = 0))),
      ("relayout", belowFloor("relayout"),
        t => Snapshot.relayout(spark, t, 2), addTwo,
        Some(t => Snapshot.relayout(spark, t, 2))),
      ("repartitionTable", belowFloor("repartition"),
        t => Snapshot.repartitionTable(spark, t, Seq("bucket(2,id)")), addTwo,
        Some(t => Snapshot.repartitionTable(spark, t, Seq("bucket(2,id)")))),
      ("overwrite", guarded("overwrite"),
        t => Snapshot.overwrite(spark, t, seedDf.filter($"id" <= 3)),
        t => Snapshot.overwrite(spark, t, seedDf.filter($"id" <= 7)), None),
      ("overwritePartitions", guarded("overwrite_parts"),
        t => Snapshot.overwritePartitions(spark, t, one, Some(Set("p1", "p2"))),
        t => Snapshot.overwritePartitions(spark, t, one), None),
      ("replaceTable", guarded("replace"),
        t => Snapshot.replaceTable(spark, t, seedDf.filter($"id" <= 3)),
        t => Snapshot.replaceTable(spark, t, seedDf.filter($"id" <= 7)), None),
      ("deleteMatching", guarded("delete"),
        t => Snapshot.deleteMatching(spark, t, Seq(Snapshot.RangePred("id", 1L, 4L))),
        t => Snapshot.deleteMatching(spark, t, Seq(Snapshot.RangePred("id", 8L, 8L))),
        None),
      ("updateMatching", belowFloor("update"),
        t => Snapshot.updateMatching(spark, t, Seq(Snapshot.RangePred("id", 1L, 2L)),
          Map("payload" -> lit("x"))), addTwo,
        Some(t => Snapshot.updateMatching(spark, t, Seq(Snapshot.RangePred("id", 1L, 2L)),
          Map("payload" -> lit("x"))))),
      ("deleteWhereMor", guarded("mor"),
        t => Snapshot.deleteWhereMor(spark, t, Seq(("id", 1, 4))),
        t => Snapshot.deleteWhereMor(spark, t, Seq(("id", 8, 8))), None))
    kinds.foreach { case (kind, t, reject, retry, after) =>
      val v = Snapshot.currentVersion(t) + 1
      val e = intercept[Snapshot.GuardViolationException](reject(t))
      assert(e.getMessage.contains("min_rows"), s"$kind: ${e.getMessage}")
      assert(Snapshot.currentVersion(t) == v - 1, s"$kind published")
      val files = Paths.get(t, "files")
      val left = if (!Files.exists(files)) Nil
        else Files.list(files).iterator().asScala.map(_.getFileName.toString).toList
      assert(!left.contains(f"c$v%08d") && !left.exists(_.startsWith("_staging-")),
        s"$kind left $left")
      assert(retry(t).version == v, s"$kind retry")
      after.foreach(a => assert(a(t).version == v + 1, s"$kind after the retry"))
    }
  }

  test("a writer that died between its data write and its manifest put does not wedge the table") {
    val t = fresh("dead_writer")
    Snapshot.create(spark, t, seedDf, "id", "part")
    // what the dead writer left: data under the next version's commit
    // dir, no manifest, and its lock, older than the stale window
    seedDf.write.parquet(s"$t/files/c00000002/__part=p1")
    val lock = Paths.get(t, "_log", "_commit.lock")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 7 * 3600 * 1000L))
    assert(commitV2(t).version == 2)
    assert(rowsOf(Snapshot.readLatest(spark, t)) == v2Expected)
    assert(Snapshot.fsck(spark, t).isEmpty)
    assert(!Files.exists(lock))
  }

  test("a commit that fails before its manifest put reclaims its dir; one whose put was lost keeps it") {
    val t = s"file://${fresh("faulty_store")}"
    val dir = t.stripPrefix("file://")
    val seg = "graft.manifest.segmentThreshold"
    Snapshot.create(spark, t, seedDf, "id", "part")
    try {
      // segmented manifests put their segments before the manifest
      sys.props(seg) = "2"
      spark.conf.set("spark.graft.logstore.file", "graft.FaultyLogStore")
      FaultyLogStore.failing = "/_log/seg/"
      intercept[java.io.IOException](commitV2(t))
      assert(Snapshot.currentVersion(t) == 1)
      assert(!Files.exists(Paths.get(dir, "files", "c00000002")))
      FaultyLogStore.failing = ""
      assert(commitV2(t).version == 2, "the version stays free for a retry")
      // the manifest put lands but its acknowledgement is lost: v3 is
      // published, so its data stays and the merge returns it
      FaultyLogStore.lostAck = true
      val v3 = Snapshot.merge(spark, t,
        Seq((1L, "alpha3", "p1")).toDF("id", "payload", "part"),
        spark.emptyDataset[Long].toDF("id"))
      FaultyLogStore.lostAck = false
      assert(v3.version == 3 && v3.rewrittenPartitions == Seq("p1") && v3.filesWritten == 1)
      assert(Snapshot.currentVersion(t) == 3)
      assert(rowsOf(Snapshot.readLatest(spark, t)) ==
        v2Expected - ((1L, "alpha", "p1")) + ((1L, "alpha3", "p1")))
      assert(Snapshot.fsck(spark, t).isEmpty)
      // a manifest put that fails without landing still fails the commit
      FaultyLogStore.failing = "/_log/v00000004"
      intercept[java.io.IOException](Snapshot.merge(spark, t,
        Seq((1L, "alpha4", "p1")).toDF("id", "payload", "part"),
        spark.emptyDataset[Long].toDF("id")))
      assert(Snapshot.currentVersion(t) == 3)
    } finally {
      FaultyLogStore.failing = ""
      FaultyLogStore.lostAck = false
      spark.conf.unset("spark.graft.logstore.file")
      sys.props -= seg
    }
  }

  test("a create and an add column whose manifest acknowledgement is lost return normally and publish once") {
    val t = s"file://${fresh("lost_ack")}"
    try {
      spark.conf.set("spark.graft.logstore.file", "graft.FaultyLogStore")
      FaultyLogStore.lostAck = true
      val created = Snapshot.create(spark, t, seedDf, "id", "part")
      val added = Snapshot.addColumn(spark, t, "note", "string")
      FaultyLogStore.lostAck = false
      assert(created.version == 1 &&
        created.filesWritten == Snapshot.readManifest(t, 1).files.size)
      assert(added.version == 2)
      assert(Snapshot.history(t).map(h => (h._1, h._2)) ==
        Seq((1, "create"), (2, "add_column(note:string)")))
      assert(Snapshot.readLatest(spark, t).columns.contains("note"))
      assert(rowsOf(Snapshot.readLatest(spark, t)) == rowsOf(seedDf))
      // each attempt stamps its own id
      val ids = Seq(1, 2).map(v => new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Paths.get(t.stripPrefix("file://"), "_log", f"v$v%08d.json").toFile)
        .get("commit_id").asText())
      assert(ids.forall(_.nonEmpty) && ids.distinct.size == 2)
    } finally {
      FaultyLogStore.lostAck = false
      spark.conf.unset("spark.graft.logstore.file")
    }
  }

  test("an update reads the manifest under the lock only: as many LogStore calls as a delete") {
    val preds = Seq(Snapshot.RangePred("id", 2L, 3L))
    val Seq(td, tu) = Seq("delete", "update").map { k =>
      val t = s"file://${fresh(s"dml_calls_$k")}"
      Snapshot.create(spark, t, seedDf, "id", "part")
      t
    }
    val granule = "graft.manifest.mtimeGranularityMs"
    def calls(body: => Any): Long = {
      CountingLogStore.calls.set(0)
      body
      CountingLogStore.calls.get()
    }
    try {
      sys.props(granule) = "0"
      spark.conf.set("spark.graft.logstore.file", "graft.CountingLogStore")
      Seq(td, tu).foreach(Snapshot.readManifest(_, 1)) // both memoized
      val d = calls(Snapshot.deleteMatching(spark, td, preds))
      val u = calls(Snapshot.updateMatching(spark, tu, preds, Map("payload" -> lit("x"))))
      assert(d > 0, "the table's metadata IO must flow through the counting store")
      assert(u == d, s"update made $u LogStore calls, delete $d")
    } finally {
      spark.conf.unset("spark.graft.logstore.file")
      sys.props -= granule
    }
    assert(Snapshot.readLatest(spark, tu).filter($"payload" === "x").count() == 2)
    // a missing table fails the same way for both
    val missing = fresh("dml_missing")
    val ed = intercept[IllegalArgumentException](
      Snapshot.deleteMatching(spark, missing, preds)).getMessage
    val eu = intercept[IllegalArgumentException](
      Snapshot.updateMatching(spark, missing, preds, Map("payload" -> lit("x")))).getMessage
    assert(ed.contains("does not exist") && eu == ed, s"delete: $ed; update: $eu")
  }
}

/** A delegating Hadoop store that fails on demand: a put under a path
  * containing `failing` throws before it lands, and with `lostAck` a
  * manifest put lands and then throws, as a lost acknowledgement would. */
class FaultyLogStore extends LogStore {
  private val h = HadoopLogStore
  override def exists(p: String) = h.exists(p)
  override def isDirectory(p: String) = h.isDirectory(p)
  override def read(p: String) = h.read(p)
  override def putIfAbsent(p: String, b: Array[Byte]): Unit = {
    if (FaultyLogStore.failing.nonEmpty && p.contains(FaultyLogStore.failing))
      throw new java.io.IOException(s"injected: put $p")
    h.putIfAbsent(p, b)
    if (FaultyLogStore.lostAck && p.matches(".*/_log/v\\d{8}\\.json"))
      throw new java.io.IOException(s"injected: lost acknowledgement of $p")
  }
  override def putReplace(p: String, b: Array[Byte]) = h.putReplace(p, b)
  override def list(p: String) = h.list(p)
  override def mkdirs(p: String) = h.mkdirs(p)
  override def createNew(p: String) = h.createNew(p)
  override def delete(p: String) = h.delete(p)
  override def deleteTree(p: String) = {
    FaultyLogStore.mutating(s"deleteTree $p"); h.deleteTree(p)
  }
  override def rename(s: String, d: String) = {
    FaultyLogStore.mutating(s"rename $s"); h.rename(s, d)
  }
  override def modifiedTime(p: String) = h.modifiedTime(p)
  override def size(p: String) = h.size(p)
}
object FaultyLogStore {
  @volatile var failing: String = ""
  @volatile var lostAck: Boolean = false
  /** Every deleteTree and rename call takes the next number of
    * `mutations`; the one numbered `failMutation` throws instead. */
  @volatile var failMutation: Int = -1
  val mutations = new java.util.concurrent.atomic.AtomicInteger()
  def mutating(what: String): Unit =
    if (mutations.getAndIncrement() == failMutation)
      throw new java.io.IOException(s"injected: $what")
}
