package graft

import graft.operators.Snapshot
import graft.sources.{GraftDataSource, GraftFilters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class GraftDataSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_dsv2spec_$tag"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    p
  }

  /** 40 rows over 4 partitions, ranged files with id stats + blooms. */
  private def seed(t: String): Unit = {
    val df = (0 until 40).map(i => (i.toLong, s"pay_$i", s"p${i / 10}"))
      .toDF("id", "payload", "part")
    Snapshot.create(spark, t, df, key = "id", partitionCol = "part",
      statsCols = Seq("id"), fileRanges = 2, bloomCols = Seq("id"))
  }

  private def rowsOf(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "payload", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("format(graft).load == readLatest; versionAsOf and tag time-travel") {
    val t = fresh("basic")
    seed(t)
    Snapshot.merge(spark, t,
      upserts = Seq((2L, "pay_2v2", "p0"), (41L, "pay_41", "p3")).toDF("id", "payload", "part"),
      deleteKeys = Seq(7L).toDF("id"))
    Snapshot.tag(t, "v1-tag", 1)

    val dsv2 = spark.read.format("graft").load(t)
    assert(rowsOf(dsv2) == rowsOf(Snapshot.readLatest(spark, t)))
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(t)
    assert(rowsOf(v1) == rowsOf(Snapshot.readAt(spark, t, 1)))
    val tagged = spark.read.format("graft").option("tag", "v1-tag").load(t)
    assert(rowsOf(tagged) == rowsOf(v1))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 1)
        .option("tag", "v1-tag").load(t).collect()
    }
  }

  test("filter pushdown prunes manifest files; result exact; explain shows the pushed filter") {
    val t = fresh("prune")
    seed(t)
    // stats conjunction: id BETWEEN 5 AND 14 admits only p0/p1 files
    val kept = GraftFilters.prune(t, 1, Array(
      GreaterThanOrEqual("id", 5L), LessThanOrEqual("id", 14L))).get
    val total = Snapshot.readManifest(t, 1).files.size
    assert(kept.size < total, s"expected skipping, kept ${kept.size}/$total")
    val df = spark.read.format("graft").load(t)
      .filter(col("id") >= 5 && col("id") <= 14)
    assert(rowsOf(df) == (5 to 14).map(i => (i.toLong, s"pay_$i", s"p${i / 10}")).toSet)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("RowDataSourceScan"),
      s"expected a v1-bridged scan with pushdown, got:\n$plan")

    // bloom point lookup prunes too
    val keptEq = GraftFilters.prune(t, 1, Array(EqualTo("id", 23L))).get
    assert(keptEq.size < total)
    assert(rowsOf(spark.read.format("graft").load(t).filter(col("id") === 23L)) ==
      Set((23L, "pay_23", "p2")))
  }

  test("pushed strict bounds skip the file whose max (min) equals the bound; inclusive bounds keep it") {
    val t = fresh("strict")
    seed(t)
    val files = Snapshot.readManifest(t, 1).files
    def kept(f: Filter): Set[String] =
      GraftFilters.prune(t, 1, Array(f)).get.map(_.path).toSet
    def stat(e: Snapshot.FileEntry, hi: Boolean): Long = {
      val cs = e.stats("id")
      (if (hi) cs.max else cs.min).get.toLong
    }
    val lowest = files.minBy(stat(_, hi = true))
    val v = stat(lowest, hi = true)
    assert(!kept(GreaterThan("id", v)).contains(lowest.path))
    assert(kept(GreaterThanOrEqual("id", v)).contains(lowest.path))
    val highest = files.maxBy(stat(_, hi = false))
    val w = stat(highest, hi = false)
    assert(!kept(LessThan("id", w)).contains(highest.path))
    assert(kept(LessThanOrEqual("id", w)).contains(highest.path))
    val all = Snapshot.readLatest(spark, t)
    val scan = spark.read.format("graft").load(t)
    for (c <- Seq(col("id") > v, col("id") >= v, col("id") < w, col("id") <= w))
      assert(rowsOf(scan.filter(c)) == rowsOf(all.filter(c)), c.toString)
  }

  test("pruning is REAL io skipping: with pruned files deleted from disk, the filtered read still works") {
    val t = fresh("io")
    seed(t)
    val m = Snapshot.readManifest(t, 1)
    val keep = GraftFilters.prune(t, 1, Array(
      GreaterThanOrEqual("id", 0L), LessThanOrEqual("id", 9L))).get.map(_.path).toSet
    assert(keep.nonEmpty && keep.size < m.files.size)
    // physically delete every file the prune rejects
    m.files.filterNot(f => keep.contains(f.path))
      .foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
    val df = spark.read.format("graft").load(t)
      .filter(col("id") >= 0L && col("id") <= 9L)
    assert(rowsOf(df) == (0 to 9).map(i => (i.toLong, s"pay_$i", "p0")).toSet)
    // an unpruned read must touch the deleted files and fail
    intercept[Exception] {
      spark.read.format("graft").load(t).collect()
    }
  }

  test("CREATE TABLE USING graft LOCATION: spark.table and SQL WHERE reads work; count(*) (empty projection) works") {
    val t = fresh("catalog")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_cat")
    spark.sql(s"CREATE TABLE graft_dsv2_cat USING graft LOCATION '$t'")
    try {
      assert(rowsOf(spark.table("graft_dsv2_cat")) ==
        rowsOf(Snapshot.readLatest(spark, t)))
      val n = spark.sql(
        "SELECT count(*) AS n FROM graft_dsv2_cat WHERE id BETWEEN 5 AND 14")
        .as[Long].head()
      assert(n == 10L)
      assert(spark.table("graft_dsv2_cat").count() == 40L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_cat")
  }

  test("INSERT INTO through the connector: upsert-on-key semantics, transactional commit") {
    val t = fresh("write")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_w")
    spark.sql(s"CREATE TABLE graft_dsv2_w USING graft LOCATION '$t'")
    try {
      // one INSERT: a brand-new key AND an existing key (upsert)
      spark.sql("INSERT INTO graft_dsv2_w VALUES " +
        "(100, 'pay_100', 'p3'), (2, 'pay_2v2', 'p0')")
      val after = rowsOf(Snapshot.readLatest(spark, t))
      assert(after.contains((100L, "pay_100", "p3")))
      assert(after.contains((2L, "pay_2v2", "p0")) &&
        !after.contains((2L, "pay_2", "p0")), "existing key must upsert")
      assert(after.size == 41, "40 seed rows + 1 new key")
      // the write was a real COMMIT: a new version in the log
      assert(Snapshot.currentVersion(t) == 2)
      // the op name surfaces the upsert: a SQL INSERT that replaced a
      // matching key is auditable as 'insert-merge', not plain 'merge'
      assert(Snapshot.history(t).last._2 == "insert-merge")
      // df.writeTo(...).append() rides the same path
      Seq((101L, "pay_101", "p3")).toDF("id", "payload", "part")
        .writeTo("graft_dsv2_w").append()
      assert(Snapshot.currentVersion(t) == 3 &&
        rowsOf(Snapshot.readLatest(spark, t)).contains((101L, "pay_101", "p3")))
      // INSERT OVERWRITE: one transactional REPLACE commit — the frame
      // becomes the whole visible state; history keeps the old rows
      val preVersion = Snapshot.currentVersion(t)
      spark.sql("INSERT OVERWRITE graft_dsv2_w VALUES " +
        "(1, 'only_1', 'p0'), (2, 'only_2', 'p0')")
      val ow = rowsOf(Snapshot.readLatest(spark, t))
      assert(ow == Set((1L, "only_1", "p0"), (2L, "only_2", "p0")),
        s"overwrite must replace the whole table, got $ow")
      assert(Snapshot.currentVersion(t) == preVersion + 1 &&
        Snapshot.history(t).last._2 == "overwrite")
      // time travel still serves the pre-overwrite state verbatim
      assert(rowsOf(Snapshot.readAt(spark, t, preVersion)).size == 42)
      // a schema-mismatched overwrite refuses before anything lands
      val bad = intercept[Exception] {
        Seq((1L, "x")).toDF("id", "payload")
          .createOrReplaceTempView("ow_bad")
        spark.sql("INSERT OVERWRITE graft_dsv2_w " +
          "SELECT id, payload FROM ow_bad")
      }
      assert(bad.getMessage != null &&
        Snapshot.currentVersion(t) == preVersion + 1)
      // TRUNCATE TABLE: an empty replace commit — history intact
      spark.sql("TRUNCATE TABLE graft_dsv2_w")
      assert(Snapshot.readLatest(spark, t).count() == 0L &&
        Snapshot.currentVersion(t) == preVersion + 2 &&
        Snapshot.history(t).last._2 == "overwrite")
      assert(rowsOf(Snapshot.readAt(spark, t, preVersion + 1)).size == 2,
        "pre-truncate state must time-travel")
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_w")
  }

  test("INSERT enforces the table's transactional gates; pinned references reject writes") {
    val t = fresh("gates")
    val df = (0 until 10).map(i => (i.toLong, s"pay_$i", s"p${i / 5}"))
      .toDF("id", "payload", "part")
    Snapshot.create(spark, t, df, key = "id", partitionCol = "part",
      constraints = Map("pos_id" -> "id >= 0"),
      guards = Map("max_shrink_pct" -> "50"))
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_g")
    spark.sql(s"CREATE TABLE graft_dsv2_g USING graft LOCATION '$t'")
    try {
      // a CHECK-violating INSERT must be rejected BEFORE anything lands
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft_dsv2_g VALUES (-5, 'bad', 'p0')")
      }
      assert(e.toString.contains("pos_id") ||
        Option(e.getCause).exists(_.toString.contains("pos_id")),
        s"expected the constraint name in: $e")
      assert(Snapshot.currentVersion(t) == 1, "rejected insert must not commit")
      // a time-travel-pinned reference cannot be written through
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_p")
      spark.sql(s"CREATE TABLE graft_dsv2_p USING graft " +
        s"OPTIONS (versionAsOf '1') LOCATION '$t'")
      val pinned = intercept[Exception] {
        spark.sql("INSERT INTO graft_dsv2_p VALUES (50, 'x', 'p0')")
      }
      def anyMsg(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(_.toString).mkString(" | ")
      assert(anyMsg(pinned).contains("pinned"),
        s"expected the pinned-reference error in: ${anyMsg(pinned)}")
      assert(Snapshot.currentVersion(t) == 1)
      // INSERT OVERWRITE rides the same gates: a CHECK-violating frame
      // refuses, and a guarded table rejects a vaporizing overwrite
      // with the commit directory reclaimed (version untouched)
      val owBad = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft_dsv2_g VALUES (-1, 'bad', 'p0')")
      }
      assert(anyMsg(owBad).contains("pos_id") &&
        Snapshot.currentVersion(t) == 1)
      val owShrink = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft_dsv2_g VALUES (7, 'tiny', 'p0')")
      }
      assert(anyMsg(owShrink).contains("max_shrink_pct"),
        s"expected the guard in: ${anyMsg(owShrink)}")
      assert(rowsOf(Snapshot.readLatest(spark, t)).size == 10,
        "guard-rejected overwrite must leave the table untouched")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_g")
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_p")
    }
  }

  test("DELETE FROM through the connector: the predicate-DML commit; unsupported predicates refused") {
    val t = fresh("del")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_d")
    spark.sql(s"CREATE TABLE graft_dsv2_d USING graft LOCATION '$t'")
    try {
      spark.sql("DELETE FROM graft_dsv2_d WHERE id >= 5 AND id <= 14")
      val after = rowsOf(Snapshot.readLatest(spark, t))
      assert(after.size == 30 && !after.exists(r => r._1 >= 5 && r._1 <= 14))
      // a real COMMIT: one new version, op 'delete', time travel intact
      assert(Snapshot.currentVersion(t) == 2 &&
        Snapshot.history(t).last._2 == "delete")
      assert(Snapshot.readAt(spark, t, 1).count() == 40L)
      // equality deletes ride the same range form
      spark.sql("DELETE FROM graft_dsv2_d WHERE id = 20")
      assert(!rowsOf(Snapshot.readLatest(spark, t)).exists(_._1 == 20L))
      // predicates the bounded-range form cannot express are REFUSED
      // with a clear analysis error, never approximated
      val e = intercept[Exception] {
        spark.sql("DELETE FROM graft_dsv2_d WHERE payload LIKE 'pay%'")
      }
      assert(e.getMessage != null)
      assert(Snapshot.currentVersion(t) == 3, "refused delete must not commit")
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_d")
  }

  test("timestampAsOf time travel: committed_at instants resolve the version axis") {
    val t = fresh("ts")
    seed(t)                                    // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshot.merge(spark, t,
      Seq((50L, "pay_50", "p3")).toDF("id", "payload", "part"),
      Seq(1L).toDF("id"))                      // v2
    val afterV2 = System.currentTimeMillis()
    // instants are recorded monotonically per commit
    assert(Snapshot.committedAt(t, 1) <= Snapshot.committedAt(t, 2))
    assert(Snapshot.committedAt(t, 2) <= afterV2)
    // between the commits → v1; after both → v2; before everything → error
    assert(Snapshot.versionAtTime(t, afterV1) === 1)
    assert(Snapshot.versionAtTime(t, afterV2) === 2)
    intercept[IllegalArgumentException] {
      Snapshot.versionAtTime(t, Snapshot.committedAt(t, 1) - 1000)
    }
    assert(rowsOf(Snapshot.readAsOf(spark, t, afterV1)) ==
      rowsOf(Snapshot.readAt(spark, t, 1)))
    // the DSv2 option rides the same resolution (epoch-millis form)
    val viaOpt = spark.read.format("graft")
      .option("timestampAsOf", afterV1.toString).load(t)
    assert(rowsOf(viaOpt) == rowsOf(Snapshot.readAt(spark, t, 1)))
    // the ops CLI face of the same resolution
    val (lines, code) = SnapshotTool.run(spark, Seq("as-of", t, afterV1.toString))
    assert(code === 0 && lines.head.startsWith("v1 "), s"got: $lines")
    // a timestamp-pinned reference refuses writes like any pin
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_ts")
    spark.sql(s"CREATE TABLE graft_dsv2_ts USING graft " +
      s"OPTIONS (timestampAsOf '$afterV1') LOCATION '$t'")
    try {
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft_dsv2_ts VALUES (60, 'x', 'p0')")
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(_.toString.contains("pinned")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_ts")
  }

  test("DV masking and column mapping survive the connector: merge-on-read delete + rename read through format(graft)") {
    val t = fresh("dvmap")
    seed(t)
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 3L, 6L)))
    Snapshot.renameColumn(spark, t, "payload", "body")
    val df = spark.read.format("graft").load(t)
    assert(df.columns.toSeq == Seq("id", "body", "part"))
    val ids = df.select("id").as[Long].collect().toSet
    assert(!(3L to 6L).exists(ids.contains) && ids.size == 36)
    // filters on the RENAMED logical column still translate
    assert(df.filter(col("body") === "pay_20").count() == 1L)
  }

  test("UPDATE through the connector: pruned copy-on-write commit; unsupported predicates refused") {
    val t = fresh("update")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_u")
    spark.sql(s"CREATE TABLE graft_dsv2_u USING graft LOCATION '$t'")
    try {
      spark.sql("UPDATE graft_dsv2_u SET payload = concat(payload, '!') " +
        "WHERE id >= 5 AND id <= 9")
      val after = rowsOf(Snapshot.readLatest(spark, t))
      assert(after.contains((5L, "pay_5!", "p0")) &&
        after.contains((9L, "pay_9!", "p0")) &&
        after.contains((4L, "pay_4", "p0")) && after.size == 40)
      assert(Snapshot.currentVersion(t) == 2 &&
        Snapshot.history(t).last._2 == "update")
      // equality and BETWEEN forms translate too
      spark.sql("UPDATE graft_dsv2_u SET payload = 'eq' WHERE id = 20")
      spark.sql("UPDATE graft_dsv2_u SET payload = 'bt' " +
        "WHERE id BETWEEN 30 AND 31")
      val after3 = rowsOf(Snapshot.readLatest(spark, t))
      assert(after3.contains((20L, "eq", "p2")) &&
        after3.contains((30L, "bt", "p3")) && after3.contains((31L, "bt", "p3")))
      val v = Snapshot.currentVersion(t)
      // REFUSED, version untouched: disjunction, no WHERE, key update
      intercept[Exception] {
        spark.sql("UPDATE graft_dsv2_u SET payload='y' WHERE id = 1 OR id = 2")
      }
      intercept[Exception] {
        spark.sql("UPDATE graft_dsv2_u SET payload='y'")
      }
      intercept[Exception] {
        spark.sql("UPDATE graft_dsv2_u SET id = id + 1 WHERE id = 1")
      }
      assert(Snapshot.currentVersion(t) == v, "refusals must not commit")
      // pinned references refuse writes
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_u_pin")
      spark.sql(s"CREATE TABLE graft_dsv2_u_pin USING graft " +
        s"OPTIONS (versionAsOf '1') LOCATION '$t'")
      intercept[Exception] {
        spark.sql("UPDATE graft_dsv2_u_pin SET payload='y' WHERE id = 1")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_u")
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_u_pin")
    }
  }

  test("MERGE INTO through the connector: one transactional merge commit; canonical shapes") {
    val t = fresh("merge")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_m")
    spark.sql(s"CREATE TABLE graft_dsv2_m USING graft LOCATION '$t'")
    try {
      // 35-39 match (update), 40-44 are new (insert)
      (35 until 45).map(i => (i.toLong, s"m_$i", s"p${i / 10}"))
        .toDF("id", "payload", "part").createOrReplaceTempView("m_src")
      spark.sql("MERGE INTO graft_dsv2_m t USING m_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val after = rowsOf(Snapshot.readLatest(spark, t))
      assert(after.size == 45 && after.contains((35L, "m_35", "p3")) &&
        after.contains((44L, "m_44", "p4")) && after.contains((2L, "pay_2", "p0")))
      assert(Snapshot.currentVersion(t) == 2 &&
        Snapshot.history(t).last._2 == "sql-merge")
      // DELETE-only merge: matched source keys drop, absent keys no-op
      Seq(44L, 999L).toDF("id").createOrReplaceTempView("m_del")
      spark.sql("MERGE INTO graft_dsv2_m t USING m_del s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
      val afterDel = rowsOf(Snapshot.readLatest(spark, t))
      assert(afterDel.size == 44 && !afterDel.exists(_._1 == 44L))
      // INSERT-only merge: matched rows untouched, new keys land
      Seq((2L, "SHOULD_NOT_REPLACE", "p0"), (50L, "m_50", "p5"))
        .toDF("id", "payload", "part").createOrReplaceTempView("m_ins")
      spark.sql("MERGE INTO graft_dsv2_m t USING m_ins s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT *")
      val afterIns = rowsOf(Snapshot.readLatest(spark, t))
      assert(afterIns.contains((2L, "pay_2", "p0")) &&
        afterIns.contains((50L, "m_50", "p5")))
      // UPDATE-only merge: new keys do NOT land
      Seq((3L, "u3", "p0"), (60L, "m_60", "p6"))
        .toDF("id", "payload", "part").createOrReplaceTempView("m_upd")
      spark.sql("MERGE INTO graft_dsv2_m t USING m_upd s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET *")
      val afterUpd = rowsOf(Snapshot.readLatest(spark, t))
      assert(afterUpd.contains((3L, "u3", "p0")) &&
        !afterUpd.exists(_._1 == 60L))
      // FULL upsert whose UPDATE and INSERT assignments DIFFER:
      // matched rows must take the UPDATE expressions, new rows the
      // INSERT ones (the silent-wrong-data shape: applying the UPDATE
      // exprs to inserted rows would persist u70 instead of i70)
      Seq((5L, "u5", "i5", "p0"), (70L, "u70", "i70", "p7"))
        .toDF("id", "pu", "pi", "part").createOrReplaceTempView("m_mix")
      spark.sql("MERGE INTO graft_dsv2_m t USING m_mix s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET id = s.id, payload = s.pu, part = s.part " +
        "WHEN NOT MATCHED THEN INSERT (id, payload, part) " +
        "VALUES (s.id, s.pi, s.part)")
      val afterMix = rowsOf(Snapshot.readLatest(spark, t))
      assert(afterMix.contains((5L, "u5", "p0")),
        "matched row must take the UPDATE expressions")
      assert(afterMix.contains((70L, "i70", "p7")),
        "inserted row must take the INSERT expressions, not the UPDATE ones")
      val v = Snapshot.currentVersion(t)
      // REFUSED, version untouched: non-key ON
      intercept[Exception] {
        spark.sql("MERGE INTO graft_dsv2_m t USING m_src s " +
          "ON t.payload = s.payload WHEN MATCHED THEN DELETE")
      }
      assert(Snapshot.currentVersion(t) == v, "refusals must not commit")
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_m")
  }

  test("MERGE INTO: conditioned actions cascade in SQL order; partial and target-referencing assignments complete from the target row; NOT MATCHED BY SOURCE") {
    val t = fresh("mergec")
    seed(t) // ids 0..39, payload pay_<i>, part p<i/10>
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_mc")
    spark.sql(s"CREATE TABLE graft_dsv2_mc USING graft LOCATION '$t'")
    try {
      // ---- conditioned MATCHED actions, first-match-wins order:
      // ids 10,11 match the DELETE's condition; 12 falls through to
      // the UPDATE; 90 is new and takes the conditioned INSERT; 91 is
      // new but fails the INSERT condition and must NOT land
      Seq((10L, "x", "px"), (11L, "x", "px"), (12L, "u12", "p1"),
          (90L, "m_90", "p9"), (91L, "m_91", "p9"))
        .toDF("id", "payload", "part").createOrReplaceTempView("mc_src")
      spark.sql("MERGE INTO graft_dsv2_mc t USING mc_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.id <= 11 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED AND s.id = 90 THEN INSERT *")
      val r1 = rowsOf(Snapshot.readLatest(spark, t))
      assert(!r1.exists(r => r._1 == 10L || r._1 == 11L),
        "conditioned DELETE must claim 10 and 11")
      assert(r1.contains((12L, "u12", "p1")),
        "12 falls through the failed DELETE condition to the UPDATE")
      assert(r1.contains((90L, "m_90", "p9")) && !r1.exists(_._1 == 91L),
        "conditioned INSERT admits 90 only")

      // ---- PARTIAL assignment completes unassigned columns from the
      // target row; a target-referencing value reads the current value
      Seq((12L, "S12"), (13L, "S13"))
        .toDF("id", "pl").createOrReplaceTempView("mc_part")
      spark.sql("MERGE INTO graft_dsv2_mc t USING mc_part s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET payload = concat(t.payload, '+', s.pl)")
      val r2 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r2.contains((12L, "u12+S12", "p1")) &&
        r2.contains((13L, "pay_13+S13", "p1")),
        s"partial update must keep part/id and read the target payload, got " +
          r2.filter(r => r._1 == 12L || r._1 == 13L))

      // ---- NOT MATCHED BY SOURCE: target rows absent from the source
      // cascade too — a conditioned DELETE then a catch-all UPDATE
      Seq(0L, 1L, 2L, 3L, 38L, 39L).toDF("id")
        .createOrReplaceTempView("mc_keep")
      spark.sql("MERGE INTO graft_dsv2_mc t USING mc_keep s ON t.id = s.id " +
        "WHEN NOT MATCHED BY SOURCE AND t.id >= 30 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET payload = 'stale'")
      val r3 = rowsOf(Snapshot.readLatest(spark, t))
      assert(!r3.exists(_._1 == 35L) && !r3.exists(_._1 == 90L),
        "by-source DELETE must claim unmatched ids >= 30")
      assert(r3.contains((38L, "pay_38", "p3")) && r3.contains((39L, "pay_39", "p3")),
        "source-matched rows are NOT 'not matched by source'")
      assert(r3.contains((4L, "stale", "p0")) && r3.contains((0L, "pay_0", "p0")),
        "by-source catch-all UPDATE marks the rest; matched rows untouched")

      // ---- partial INSERT column list pads unlisted columns with NULL
      Seq((200L, "pz")).toDF("id", "part").createOrReplaceTempView("mc_ins")
      spark.sql("MERGE INTO graft_dsv2_mc t USING mc_ins s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, part) VALUES (s.id, s.part)")
      val ins = Snapshot.readLatest(spark, t).filter(col("id") === 200L)
        .collect()
      assert(ins.length == 1 && ins(0).isNullAt(ins(0).fieldIndex("payload")),
        "unlisted INSERT columns must null-pad")

      // every claimed shape above landed as ONE sql-merge commit each
      assert(Snapshot.history(t).count(_._2 == "sql-merge") == 4)
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_mc")
  }

  test("half-open and strict bounds in DELETE/UPDATE: the retention-sweep shape, pruned and exact") {
    val t = fresh("dmlopen")
    seed(t) // ids 0..39 over p0..p3
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_open")
    spark.sql(s"CREATE TABLE graft_dsv2_open USING graft LOCATION '$t'")
    try {
      val pre = Snapshot.readManifest(t, 1).files.map(_.path).toSet
      // strict upper bound: ids 0..4 go, 5 survives
      spark.sql("DELETE FROM graft_dsv2_open WHERE id < 5")
      val r1 = rowsOf(Snapshot.readLatest(spark, t))
      assert(!r1.exists(_._1 < 5L) && r1.exists(_._1 == 5L) && r1.size == 35)
      // pruning: p2/p3 files provably miss the bound and carry forward
      val post = Snapshot.readManifest(t, 2).files.map(_.path).toSet
      assert((pre intersect post).nonEmpty)
      // inclusive lower bound UPDATE: ids >= 38 tag
      spark.sql("UPDATE graft_dsv2_open SET payload = 'old' WHERE id >= 38")
      val r2 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r2.contains((38L, "old", "p3")) && r2.contains((39L, "old", "p3")) &&
        r2.contains((37L, "pay_37", "p3")))
      // strict lower bound UPDATE: > 35 touches 36,37 (38,39 rewritten above)
      spark.sql("UPDATE graft_dsv2_open SET payload = concat(payload, '+') " +
        "WHERE id > 35 AND id < 38")
      val r3 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r3.contains((36L, "pay_36+", "p3")) && r3.contains((37L, "pay_37+", "p3")) &&
        r3.contains((35L, "pay_35", "p3")) && r3.contains((38L, "old", "p3")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_open")
  }

  test("dynamic-mode SQL INSERT OVERWRITE == the Scala dynamic partition overwrite, commit for commit") {
    val tSql = fresh("dynsql")
    val tApi = fresh("dynapi")
    seed(tSql); seed(tApi) // identical twins: ids 0..39 over p0..p3
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_dyn")
    spark.sql(s"CREATE TABLE graft_dsv2_dyn USING graft LOCATION '$tSql'")
    val mode0 = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the refresh delivers rows for p1 and p2 only
      val refresh = Seq((10L, "dyn_10", "p1"), (11L, "dyn_11", "p1"),
        (25L, "dyn_25", "p2")).toDF("id", "payload", "part")
      refresh.createOrReplaceTempView("dyn_src")
      spark.sql("INSERT OVERWRITE graft_dsv2_dyn SELECT * FROM dyn_src")
      Snapshot.overwritePartitions(spark, tApi, refresh, scope = None)

      // commit for commit: same end state, same op, same carried files
      val rSql = rowsOf(Snapshot.readLatest(spark, tSql))
      assert(rSql == rowsOf(Snapshot.readLatest(spark, tApi)))
      assert(rSql.count(_._3 == "p1") == 2 && rSql.count(_._3 == "p2") == 1,
        "delivered partitions replace")
      assert(rSql.count(_._3 == "p0") == 10 && rSql.count(_._3 == "p3") == 10,
        "absent partitions carry forward")
      val (mSql, mApi) = (Snapshot.readManifest(tSql, 2), Snapshot.readManifest(tApi, 2))
      assert(mSql.op == mApi.op && mSql.op.startsWith("overwrite_partitions("))
      val carried = Set("p0", "p3")
      carried.foreach { p =>
        assert(mSql.partitions(p).map(_.path) ==
          Snapshot.readManifest(tSql, 1).partitions(p).map(_.path),
          s"untouched partition $p must carry its v1 files verbatim")
        assert(mApi.partitions(p).map(_.path) ==
          Snapshot.readManifest(tApi, 1).partitions(p).map(_.path))
        // same commit shape on both faces (file names differ by UUID)
        assert(mSql.partitions(p).size == mApi.partitions(p).size)
      }

      // an EMPTY dynamic delivery commits nothing (no silent version
      // bump masking an upstream failure) — SQL and API agree
      spark.sql("INSERT OVERWRITE graft_dsv2_dyn " +
        "SELECT * FROM dyn_src WHERE id < 0")
      assert(Snapshot.currentVersion(tSql) == 2,
        "empty dynamic delivery must not burn a version")

      // a pinned reference still refuses the verb
      Snapshot.tag(tSql, "pin", 1)
      intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft_dsv2_dyn VERSION AS OF 1 " +
          "SELECT * FROM dyn_src")
      }

      // static mode (the conf default) is untouched: flip back and the
      // unconditional overwrite still replaces the whole table
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql("INSERT OVERWRITE graft_dsv2_dyn SELECT * FROM dyn_src")
      assert(rowsOf(Snapshot.readLatest(spark, tSql)).size == 3 &&
        Snapshot.history(tSql).last._2 == "overwrite")
    } finally {
      mode0 match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      spark.sql("DROP TABLE IF EXISTS graft_dsv2_dyn")
    }
  }

  test("IN-list DELETE/UPDATE through the connector: point-lookup pruned commits; refusal preserved for non-translatable shapes") {
    val t = fresh("dmlin")
    seed(t) // ids 0..39 over p0..p3, ranged files, id stats + blooms
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_in")
    spark.sql(s"CREATE TABLE graft_dsv2_in USING graft LOCATION '$t'")
    try {
      val pre = Snapshot.readManifest(t, 1).files.map(_.path).toSet
      spark.sql("DELETE FROM graft_dsv2_in WHERE id IN (3, 17, 999)")
      val after = rowsOf(Snapshot.readLatest(spark, t))
      assert(!after.exists(r => r._1 == 3L || r._1 == 17L) && after.size == 38)
      // file-granularity: partitions holding no listed key carry their
      // files forward verbatim (the IN pruned through stats + blooms)
      val post = Snapshot.readManifest(t, 2).files.map(_.path).toSet
      assert((pre intersect post).nonEmpty,
        "untouched files must carry forward — IN must prune, not rewrite all")

      spark.sql("UPDATE graft_dsv2_in SET payload = 'inup' WHERE id IN (5, 999)")
      assert(rowsOf(Snapshot.readLatest(spark, t)).contains((5L, "inup", "p0")))

      // IN over only-absent keys: proven no-match — audit-only commit
      val before = Snapshot.readManifest(t, Snapshot.currentVersion(t))
        .files.map(_.path).toSet
      spark.sql("DELETE FROM graft_dsv2_in WHERE id IN (777, 888)")
      assert(Snapshot.readManifest(t, Snapshot.currentVersion(t))
        .files.map(_.path).toSet == before,
        "absent-key IN delete must write no files")

      // IN AND-ed with a range: both prunings intersect, only 22 passes
      spark.sql("UPDATE graft_dsv2_in SET payload = 'both' " +
        "WHERE id IN (20, 21, 22) AND id BETWEEN 22 AND 30")
      val r = rowsOf(Snapshot.readLatest(spark, t))
      assert(r.contains((22L, "both", "p2")) && r.contains((20L, "pay_20", "p2")))

      // NOT IN stays refused — never silently approximated
      intercept[Exception] {
        spark.sql("DELETE FROM graft_dsv2_in WHERE id NOT IN (1, 2)")
      }
      // a NULL in the IN list refuses (it can never match)
      intercept[Exception] {
        spark.sql("UPDATE graft_dsv2_in SET payload = 'x' " +
          "WHERE id IN (1, CAST(NULL AS BIGINT))")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_in")
  }

  test("MERGE INTO with a compound ON: non-key conjuncts gate match membership on every side; refusals unchanged for non-equi key conditions") {
    val t = fresh("mergeon")
    seed(t) // ids 0..39, payload pay_<i>, part p<i/10>
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_mon")
    spark.sql(s"CREATE TABLE graft_dsv2_mon USING graft LOCATION '$t'")
    try {
      // ---- cross-side extra conjunct (t.part = s.part2), matched +
      // insert membership: id 12 agrees on part -> MATCHED update; id
      // 13 key-matches but DISAGREES on part -> NOT matched, so its
      // source row INSERTS (replacing the key's row — the keyed
      // format's upsert contract); 90 is genuinely new
      Seq((12L, "on12", "p1"), (13L, "on13", "p9"), (90L, "on90", "p9"))
        .toDF("id", "pl", "part2").createOrReplaceTempView("mon_src")
      spark.sql("MERGE INTO graft_dsv2_mon t USING mon_src s " +
        "ON t.id = s.id AND t.part = s.part2 " +
        "WHEN MATCHED THEN UPDATE SET payload = concat(t.payload, '+', s.pl) " +
        "WHEN NOT MATCHED THEN INSERT (id, payload, part) " +
        "VALUES (s.id, s.pl, s.part2)")
      val r1 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r1.contains((12L, "pay_12+on12", "p1")),
        "a pair satisfying BOTH conjuncts is matched")
      assert(r1.contains((13L, "on13", "p9")) &&
        !r1.exists(r => r._1 == 13L && r._3 == "p1"),
        "a key-equal pair failing the extra conjunct is NOT matched — " +
          "its source row inserts, replacing the key's row")
      assert(r1.contains((90L, "on90", "p9")))

      // ---- BY SOURCE membership honors the full ON: id 20 IS in the
      // source but its part disagrees -> the target row counts as NOT
      // MATCHED BY SOURCE; id 21's pair agrees -> untouched
      Seq((20L, "pz"), (21L, "p2")).toDF("id", "part2")
        .createOrReplaceTempView("mon_bs")
      spark.sql("MERGE INTO graft_dsv2_mon t USING mon_bs s " +
        "ON t.id = s.id AND t.part = s.part2 " +
        "WHEN NOT MATCHED BY SOURCE AND t.id IN (20, 21) " +
        "THEN UPDATE SET payload = 'bs'")
      val r2 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r2.contains((20L, "bs", "p2")),
        "a pair failing the extra conjunct leaves the target row by-source")
      assert(r2.contains((21L, "pay_21", "p2")),
        "a pair satisfying the full ON is matched, never by-source")

      // ---- source-only extra conjunct still gates membership (and
      // rides the cheap semi-probe: complete, target-free assignments)
      Seq((5L, "f5", "p0", 1), (6L, "f6", "p0", 0))
        .toDF("id", "payload", "part", "flag")
        .createOrReplaceTempView("mon_ff")
      spark.sql("MERGE INTO graft_dsv2_mon t USING mon_ff s " +
        "ON t.id = s.id AND s.flag = 1 " +
        "WHEN MATCHED THEN UPDATE SET id = s.id, payload = s.payload, " +
        "part = s.part")
      val r3 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r3.contains((5L, "f5", "p0")) && r3.contains((6L, "pay_6", "p0")),
        "flag=0 fails the source-only conjunct: not matched, untouched")

      // ---- the keyed-format GATE: a statement whose branches deliver
      // TWO upserts for one key refuses instead of silently
      // duplicating the key — (a) a key-colliding NOT MATCHED insert
      // meeting a NOT MATCHED BY SOURCE update of the same key under
      // a compound ON; (b) a source with duplicate ON keys
      val vGate = Snapshot.currentVersion(t)
      Seq((21L, "pz")).toDF("id", "part2").createOrReplaceTempView("mon_dup")
      val eDup = intercept[Exception] {
        spark.sql("MERGE INTO graft_dsv2_mon t USING mon_dup s " +
          "ON t.id = s.id AND t.part = s.part2 " +
          "WHEN NOT MATCHED THEN INSERT (id, payload, part) " +
          "VALUES (s.id, 'dup', s.part2) " +
          "WHEN NOT MATCHED BY SOURCE AND t.id = 21 " +
          "THEN UPDATE SET payload = 'bs2'")
      }
      assert(eDup.getMessage.contains("one row per key"))
      Seq((7L, "a", "p0"), (7L, "b", "p0"))
        .toDF("id", "payload", "part").createOrReplaceTempView("mon_dsrc")
      val eSrc = intercept[Exception] {
        spark.sql("MERGE INTO graft_dsv2_mon t USING mon_dsrc s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET payload = s.payload")
      }
      assert(eSrc.getMessage.contains("one row per key"))
      assert(Snapshot.currentVersion(t) == vGate, "refusals must not commit")

      // ---- refusals unchanged: non-equi key conditions, a missing
      // key equality, and an ambiguous double key equality all refuse
      Seq((1L, 2L)).toDF("id", "id2").createOrReplaceTempView("mon_bad")
      val e1 = intercept[Exception] {
        spark.sql("MERGE INTO graft_dsv2_mon t USING mon_bad s " +
          "ON t.id >= s.id WHEN MATCHED THEN UPDATE SET payload = 'x'")
      }
      assert(e1.getMessage.contains("MERGE ON"))
      val e2 = intercept[Exception] {
        spark.sql("MERGE INTO graft_dsv2_mon t USING mon_bad s " +
          "ON t.payload = 'k' WHEN MATCHED THEN UPDATE SET payload = 'x'")
      }
      assert(e2.getMessage.contains("MERGE ON"))
      val e3 = intercept[Exception] {
        spark.sql("MERGE INTO graft_dsv2_mon t USING mon_bad s " +
          "ON t.id = s.id AND t.id = s.id2 " +
          "WHEN MATCHED THEN UPDATE SET payload = 'x'")
      }
      assert(e3.getMessage.contains("exactly one"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_mon")
  }

  test("partition-scoped INSERT OVERWRITE: the daily-refresh verb — one partition replaces, the rest carry forward untouched") {
    val t = fresh("owpart")
    seed(t) // ids 0..39, parts p0..p3 (10 rows each)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_owp")
    spark.sql(s"CREATE TABLE graft_dsv2_owp USING graft LOCATION '$t'")
    try {
      val before = rowsOf(Snapshot.readLatest(spark, t))
      // static SQL scope: replace exactly p1 with two fresh rows
      spark.sql("INSERT OVERWRITE graft_dsv2_owp PARTITION (part = 'p1') " +
        "VALUES (500, 'fresh_500'), (501, 'fresh_501')")
      val r1 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r1.filter(_._3 == "p1") ==
        Set((500L, "fresh_500", "p1"), (501L, "fresh_501", "p1")),
        s"p1 must hold exactly the fresh rows, got ${r1.filter(_._3 == "p1")}")
      assert(r1.filter(_._3 != "p1") == before.filter(_._3 != "p1"),
        "every other partition must carry forward untouched")
      assert(Snapshot.history(t).last._2.startsWith("overwrite_partitions(") &&
        Snapshot.history(t).last._2.contains("p1"))
      // the pre-refresh state time-travels
      assert(rowsOf(Snapshot.readAt(spark, t, 1)) == before)
      // carried-forward partitions did NOT rewrite: their files are
      // byte-identical manifest entries from v1
      val (m1, m2) = (Snapshot.readManifest(t, 1), Snapshot.readManifest(t, 2))
      assert(m2.partitions("p0").map(_.path) == m1.partitions("p0").map(_.path),
        "untouched partitions must keep their v1 files verbatim")
      // frame rows OUTSIDE the static scope refuse, version untouched
      // (SQL's PARTITION spec binds the constant so rows cannot escape
      // the scope through SQL — the refusal shape is API-level)
      val v = Snapshot.currentVersion(t)
      intercept[Exception] {
        Snapshot.overwritePartitions(spark, t,
          Seq((700L, "x", "p3")).toDF("id", "payload", "part"),
          scope = Some(Set("p2")))
      }
      assert(Snapshot.currentVersion(t) == v, "refusals must not commit")
      // DYNAMIC scope (Scala API): the frame's partitions replace,
      // absent partitions untouched; an emptied static scope EMPTIES
      Snapshot.overwritePartitions(spark, t,
        Seq((800L, "d800", "p2"), (801L, "d801", "p3"))
          .toDF("id", "payload", "part"))
      val r2 = rowsOf(Snapshot.readLatest(spark, t))
      assert(r2.filter(_._3 == "p2") == Set((800L, "d800", "p2")) &&
        r2.filter(_._3 == "p3") == Set((801L, "d801", "p3")) &&
        r2.filter(_._3 == "p0") == before.filter(_._3 == "p0"),
        s"dynamic overwrite replaces only the frame's partitions, got $r2")
      Snapshot.overwritePartitions(spark, t,
        Seq.empty[(Long, String, String)].toDF("id", "payload", "part"),
        scope = Some(Set("p0")))
      assert(!rowsOf(Snapshot.readLatest(spark, t)).exists(_._3 == "p0"),
        "a static scope the frame has no rows for must EMPTY")
      // a DYNAMIC refresh delivering zero rows commits NOTHING — an
      // accidentally-empty upstream must not look like a refresh
      val vAfter = Snapshot.currentVersion(t)
      Snapshot.overwritePartitions(spark, t,
        Seq.empty[(Long, String, String)].toDF("id", "payload", "part"))
      assert(Snapshot.currentVersion(t) == vAfter,
        "dynamic + empty delivery must not burn a version")
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_owp")
  }

  test("partial-update MERGE prunes its target-row read to the source's ON-key range (measured bytes)") {
    val t = fresh("mergeprune")
    // 4000 keys over 4 partitions, 8 file ranges on (part, id) — the
    // manifest's per-file id min/max are the pruning substrate
    Snapshot.create(spark,
      t, (0 until 4000).map(i => (i.toLong, s"pay_$i", s"p${i / 1000}"))
        .toDF("id", "payload", "part"),
      key = "id", partitionCol = "part", statsCols = Seq("id"),
      fileRanges = 8)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_mp")
    spark.sql(s"CREATE TABLE graft_dsv2_mp USING graft LOCATION '$t'")
    try {
      // both sources: 8 keys in ONE partition (p0), so the rewrite
      // cost is identical — the byte delta isolates the COMBINED
      // JOIN's target-row read, which the narrow source's key range
      // must prune to a file subset
      Seq.tabulate(8)(i => (i.toLong, s"n$i"))
        .toDF("id", "pl").createOrReplaceTempView("mp_narrow")
      Seq.tabulate(8)(i => ((i * 125).toLong, s"w$i"))
        .toDF("id", "pl").createOrReplaceTempView("mp_wide")
      def bytesOf(view: String): Long = graft.dev.PlanAudit.measure(spark) {
        spark.sql(s"MERGE INTO graft_dsv2_mp t USING $view s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET payload = concat(t.payload, '+', s.pl)")
      }("input_bytes")
      val narrow = bytesOf("mp_narrow") // ids 0..7: one id-range file
      val wide = bytesOf("mp_wide")     // ids 0..875: spans p0's ranges
      assert(narrow < wide,
        s"narrow-key combined join must read fewer bytes ($narrow !< $wide)")
      // and both landed correctly (the pruned read is a SUPERSET of
      // matched rows — semantics never change)
      val after = rowsOf(Snapshot.readLatest(spark, t))
      assert(after.contains((0L, "pay_0+n0+w0", "p0")) &&
        after.contains((875L, "pay_875+w7", "p0")) &&
        after.contains((7L, "pay_7+n7", "p0")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_mp")
  }

  test("aggregate pushdown: count/min/max/sum answered from the manifest — proven by deleting every data file") {
    val t = fresh("agg")
    seed(t)
    val q = "SELECT count(*) AS n_rows, count(id) AS n_id, " +
      "min(id) AS min_id, max(id) AS max_id, sum(id) AS sum_id FROM graft_agg_t"
    spark.sql("DROP TABLE IF EXISTS graft_agg_t")
    spark.sql(s"CREATE TABLE graft_agg_t USING graft LOCATION '$t'")
    try {
      val before = spark.sql(q).collect()(0)
      assert(before.getLong(0) == 40L && before.getLong(1) == 40L &&
        before.getLong(2) == 0L && before.getLong(3) == 39L &&
        before.getLong(4) == (0 to 39).sum.toLong)
      // the strongest zero-IO proof: physically delete EVERY data
      // file — the pushed aggregate must still answer (manifest only)
      val m = Snapshot.readManifest(t, 1)
      m.files.foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
      val after = spark.sql(q).collect()(0)
      assert(after == before, "manifest aggregate must not touch data files")
      // and the task-level input metrics agree: zero bytes read
      val metrics = graft.dev.PlanAudit.measure(spark) {
        spark.sql(q).write.format("noop").mode("overwrite").save()
      }
      assert(metrics("input_bytes") == 0L,
        s"expected zero input bytes, got ${metrics("input_bytes")}")
      // avg pushes too: Spark itself rewrites AVG into SUM/COUNT
      // before offering the aggregation, and both halves fold exactly
      assert(spark.sql("SELECT avg(id) AS a FROM graft_agg_t")
        .collect()(0).getDouble(0) == 19.5)
      // a non-pushable aggregate in the same query refuses the WHOLE
      // pushdown (all-or-nothing: payload is not stats-tracked) and
      // fails on the missing files — never a half-manifest half-scan
      // silent wrong answer
      intercept[Exception] {
        spark.sql("SELECT count(*) AS n, max(payload) AS p FROM graft_agg_t").collect()
      }
      // a WHERE clause blocks the manifest fold too (stats cannot
      // apply residual predicates)
      intercept[Exception] {
        spark.sql("SELECT count(*) AS n FROM graft_agg_t WHERE id >= 5").collect()
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_t")
  }

  test("partition-filtered aggregate pushdown: WHERE on the partition column restricts the metadata fold") {
    val t = fresh("aggw")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_agg_tw")
    spark.sql(s"CREATE TABLE graft_agg_tw USING graft LOCATION '$t'")
    try {
      val q = "SELECT count(*) AS n, count(id) AS nid, min(id) AS mn, " +
        "max(id) AS mx, sum(id) AS sm FROM graft_agg_tw WHERE part = 'p1'"
      val r = spark.sql(q).collect()(0)
      assert(r.getLong(0) == 10L && r.getLong(1) == 10L &&
        r.getLong(2) == 10L && r.getLong(3) == 19L &&
        r.getLong(4) == (10 to 19).sum.toLong)
      // IN form composes with the grouped fold
      val g = spark.sql("SELECT part, count(*) AS n, max(id) AS mx " +
        "FROM graft_agg_tw WHERE part IN ('p1', 'p3') GROUP BY part")
        .collect().map(row => (row.getString(0), row.getLong(1), row.getLong(2))).toSet
      assert(g == Set(("p1", 10L, 19L), ("p3", 10L, 39L)))
      // zero matching partitions: SQL's one global row, count 0, NULL min
      val z = spark.sql("SELECT count(*) AS n, min(id) AS mn " +
        "FROM graft_agg_tw WHERE part = 'nope'").collect()(0)
      assert(z.getLong(0) == 0L && z.isNullAt(1))
      // a NON-partition pushed filter declines the fold: the exact
      // scan path answers (and reads real bytes)
      val d = "SELECT count(*) AS n FROM graft_agg_tw WHERE id <= 19"
      assert(spark.sql(d).collect()(0).getLong(0) == 20L)
      val declined = graft.dev.PlanAudit.measure(spark) {
        spark.sql(d).write.format("noop").mode("overwrite").save()
      }
      assert(declined("input_bytes") > 0L,
        "non-partition WHERE must take the scan path")
      // the zero-IO proof: delete every data file — the filtered fold
      // (global and grouped) still answers from the manifest alone
      val m = Snapshot.readManifest(t, 1)
      m.files.foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
      assert(spark.sql(q).collect()(0) == r)
      val metrics = graft.dev.PlanAudit.measure(spark) {
        spark.sql(q).write.format("noop").mode("overwrite").save()
      }
      assert(metrics("input_bytes") == 0L,
        s"expected zero input bytes, got ${metrics("input_bytes")}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_tw")
  }

  test("range-filtered aggregate pushdown: BETWEEN on the partition column restricts the metadata fold; numeric ordering is typed; non-comparable bounds decline") {
    val t = fresh("aggrange")
    seed(t)
    spark.sql("DROP TABLE IF EXISTS graft_agg_tr")
    spark.sql(s"CREATE TABLE graft_agg_tr USING graft LOCATION '$t'")
    try {
      // BETWEEN (pushed as >=/<=) on the string partition column:
      // p1..p2 = ids 10..29
      val q = "SELECT count(*) AS n, count(id) AS nid, min(id) AS mn, " +
        "max(id) AS mx, sum(id) AS sm FROM graft_agg_tr " +
        "WHERE part BETWEEN 'p1' AND 'p2'"
      val r = spark.sql(q).collect()(0)
      assert(r.getLong(0) == 20L && r.getLong(1) == 20L &&
        r.getLong(2) == 10L && r.getLong(3) == 29L &&
        r.getLong(4) == (10 to 29).sum.toLong)
      // strict bounds and one-sided ranges compose with GROUP BY
      val g = spark.sql("SELECT part, count(*) AS n FROM graft_agg_tr " +
        "WHERE part >= 'p1' AND part < 'p3' GROUP BY part")
        .collect().map(row => (row.getString(0), row.getLong(1))).toSet
      assert(g == Set(("p1", 10L), ("p2", 10L)))
      // zero-IO proof: delete every data file; the range fold and its
      // task metrics stay manifest-only
      val m = Snapshot.readManifest(t, 1)
      m.files.foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
      assert(spark.sql(q).collect()(0) == r)
      val metrics = graft.dev.PlanAudit.measure(spark) {
        spark.sql(q).write.format("noop").mode("overwrite").save()
      }
      assert(metrics("input_bytes") == 0L,
        s"expected zero input bytes, got ${metrics("input_bytes")}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_tr")

    // NUMERIC partition column: the fold must order by VALUE, not by
    // the rendered string ('10' < '7' lexicographically — a string
    // compare would wrongly drop day 10 from BETWEEN 5 AND 12)
    val tn = fresh("aggrangenum")
    Snapshot.create(spark,
      tn,
      Seq((1L, 2), (2L, 2), (3L, 7), (4L, 7), (5L, 10), (6L, 10))
        .toDF("id", "day"),
      key = "id", partitionCol = "day", statsCols = Seq("id"))
    spark.sql("DROP TABLE IF EXISTS graft_agg_trn")
    spark.sql(s"CREATE TABLE graft_agg_trn USING graft LOCATION '$tn'")
    try {
      val qn = "SELECT count(*) AS n, min(id) AS mn, max(id) AS mx " +
        "FROM graft_agg_trn WHERE day BETWEEN 5 AND 12"
      val rn = spark.sql(qn).collect()(0)
      assert(rn.getLong(0) == 4L && rn.getLong(1) == 3L && rn.getLong(2) == 6L,
        s"numeric range must keep days 7 and 10, got $rn")
      val mn = Snapshot.readManifest(tn, 1)
      mn.files.foreach(f => Files.delete(Paths.get(s"$tn/${f.path}")))
      assert(spark.sql(qn).collect()(0) == rn, "numeric range fold is zero-IO")
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_trn")

    // a partition type whose rendered ordering is UNPROVEN (date)
    // declines the whole aggregation — the exact scan answers and
    // reads real bytes, never a maybe-wrong fold
    val td = fresh("aggrangedate")
    Snapshot.create(spark, td,
      Seq((1L, "2026-01-05"), (2L, "2026-01-07"), (3L, "2026-01-10"))
        .toDF("id", "day").withColumn("day", col("day").cast("date")),
      key = "id", partitionCol = "day", statsCols = Seq("id"))
    spark.sql("DROP TABLE IF EXISTS graft_agg_trd")
    spark.sql(s"CREATE TABLE graft_agg_trd USING graft LOCATION '$td'")
    try {
      val qd = "SELECT count(*) AS n FROM graft_agg_trd " +
        "WHERE day BETWEEN DATE '2026-01-06' AND DATE '2026-01-11'"
      assert(spark.sql(qd).collect()(0).getLong(0) == 2L)
      val declined = graft.dev.PlanAudit.measure(spark) {
        spark.sql(qd).write.format("noop").mode("overwrite").save()
      }
      assert(declined("input_bytes") > 0L,
        "a date-typed partition range must decline to the exact scan")
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_trd")
  }

  test("grouped aggregate pushdown: GROUP BY the partition column answers per-partition from the manifest") {
    val t = fresh("agggrp")
    seed(t)
    val q = "SELECT part, count(*) AS n, count(id) AS n_id, min(id) AS mn, " +
      "max(id) AS mx, sum(id) AS sm FROM graft_agg_grp GROUP BY part"
    spark.sql("DROP TABLE IF EXISTS graft_agg_grp")
    spark.sql(s"CREATE TABLE graft_agg_grp USING graft LOCATION '$t'")
    try {
      def rows() = spark.sql(q).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val expect = (0 until 4).map { p =>
        val ids = (p * 10) until (p * 10 + 10)
        (s"p$p", 10L, 10L, ids.head.toLong, ids.last.toLong, ids.sum.toLong)
      }.toSet
      assert(rows() == expect)
      // zero-IO proof: the grouped fold survives deleting every file
      val m = Snapshot.readManifest(t, 1)
      m.files.foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
      assert(rows() == expect, "grouped fold must not touch data files")
      // GROUP BY a non-partition column cannot push and fails on the
      // missing files — never a silently-wrong grouped answer
      intercept[Exception] {
        spark.sql("SELECT payload, count(*) AS n FROM graft_agg_grp " +
          "GROUP BY payload").collect()
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_grp")
  }

  test("grouped aggregate pushdown declines under deletion vectors: the scan path keeps it exact") {
    val t = fresh("agggrpdv")
    seed(t)
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 3L, 6L))) // 4 rows masked in p0
    spark.sql("DROP TABLE IF EXISTS graft_agg_grp_dv")
    spark.sql(s"CREATE TABLE graft_agg_grp_dv USING graft LOCATION '$t'")
    try {
      val r = spark.sql("SELECT part, count(*) AS n FROM graft_agg_grp_dv " +
        "GROUP BY part").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(r == Set(("p0", 6L), ("p1", 10L), ("p2", 10L), ("p3", 10L)),
        "dv-live grouped counts must be LOGICAL (scan fallback)")
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_grp_dv")
  }

  test("aggregate pushdown stays EXACT under deletion vectors: dirty files scan, clean files fold") {
    val t = fresh("aggdv")
    seed(t)
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 3L, 6L))) // 4 rows masked
    spark.sql("DROP TABLE IF EXISTS graft_agg_dv")
    spark.sql(s"CREATE TABLE graft_agg_dv USING graft LOCATION '$t'")
    try {
      val r = spark.sql("SELECT count(*) AS n_rows, sum(id) AS sum_id " +
        "FROM graft_agg_dv").collect()(0)
      assert(r.getLong(0) == 36L)
      assert(r.getLong(1) == (0 to 39).sum.toLong - (3 + 4 + 5 + 6))
    } finally spark.sql("DROP TABLE IF EXISTS graft_agg_dv")
  }

  test("LIMIT pushdown is file skipping: the peek query reads the fewest covering files") {
    val t = fresh("limit")
    seed(t) // 40 rows over 8 files (2 ranges x 4 partitions)
    spark.sql("DROP TABLE IF EXISTS graft_limit_t")
    spark.sql(s"CREATE TABLE graft_limit_t USING graft LOCATION '$t'")
    try {
      val limited = graft.dev.PlanAudit.measure(spark) {
        spark.sql("SELECT * FROM graft_limit_t LIMIT 5")
          .write.format("noop").mode("overwrite").save()
      }
      val full = graft.dev.PlanAudit.measure(spark) {
        spark.sql("SELECT * FROM graft_limit_t")
          .write.format("noop").mode("overwrite").save()
      }
      assert(limited("input_bytes") > 0 &&
        limited("input_bytes") * 3 <= full("input_bytes"),
        s"LIMIT must skip most files: ${limited("input_bytes")} vs " +
          s"${full("input_bytes")}")
      // semantics: exactly 5 valid rows
      val rows = spark.sql("SELECT * FROM graft_limit_t LIMIT 5").collect()
      assert(rows.length == 5 &&
        rows.forall(r => r.getString(1) == s"pay_${r.getLong(0)}"))
      // LIMIT over the whole table still serves every row
      assert(spark.sql("SELECT * FROM graft_limit_t LIMIT 100").count() == 40)
      // a filtered LIMIT does NOT push (stats cannot bound surviving
      // rows per file) — results stay exact through the normal path
      assert(spark.sql(
        "SELECT * FROM graft_limit_t WHERE id >= 20 LIMIT 5").count() == 5)
    } finally spark.sql("DROP TABLE IF EXISTS graft_limit_t")
  }

  test("scan statistics from the manifest: Catalyst sees exact logical rows and pruned byte sizes") {
    val t = fresh("stats")
    seed(t)
    Snapshot.deleteWhereMor(spark, t, Seq(("id", 3L, 6L))) // 4 rows masked
    val full = spark.read.format("graft").load(t)
    val fullStats = full.queryExecution.optimizedPlan.stats
    // numRows is the LOGICAL count (dv rows subtracted), not physical
    assert(fullStats.rowCount.contains(BigInt(36)),
      s"expected rowCount 36, got ${fullStats.rowCount}")
    assert(fullStats.sizeInBytes > 0)
    // a prunable filter shrinks the reported size: the planner sees
    // the SURVIVING files' bytes, so a pruned-down side can broadcast
    val pruned = spark.read.format("graft").load(t)
      .filter(col("id") >= 0L && col("id") <= 9L)
    val prunedStats = pruned.queryExecution.optimizedPlan.collectLeaves()
      .head.stats
    assert(prunedStats.sizeInBytes < fullStats.sizeInBytes,
      s"pruned ${prunedStats.sizeInBytes} !< full ${fullStats.sizeInBytes}")
  }

  test("scan statistics are a pure manifest fold: zero filesystem calls on a bytes-carrying manifest") {
    val t = fresh("statsbytes")
    seed(t)
    // every commit records the file's on-disk size from the scan's
    // own _metadata column — and it matches the filesystem
    val m = Snapshot.readManifest(t, 1)
    m.files.foreach { f =>
      assert(f.bytes > 0, s"${f.path} lacks bytes")
      assert(f.bytes == Files.size(Paths.get(s"$t/${f.path}")),
        s"${f.path}: manifest bytes ${f.bytes} != disk")
    }
    val expectBytes = m.files.map(_.bytes).sum
    // the zero-FS proof: physically delete EVERY data file — the
    // estimate must still report the manifest byte sum (a walk-based
    // estimate would see nothing and report 0)
    m.files.foreach(f => Files.delete(Paths.get(s"$t/${f.path}")))
    val stats = spark.read.format("graft").load(t)
      .queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt(expectBytes),
      s"expected manifest fold $expectBytes, got ${stats.sizeInBytes}")
    assert(stats.rowCount.contains(BigInt(40)))
  }
}
