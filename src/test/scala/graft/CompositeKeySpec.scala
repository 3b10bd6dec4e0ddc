package graft

import graft.operators.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Composite merge keys, multi-column partitioning, and the hidden
  * partition transforms (days/bucket) — the r15 format generalization:
  * the whole commit/prune/DML/SQL stack must operate on the full
  * key/partition TUPLE, legacy single-column manifests must keep
  * parsing (and keep being WRITTEN in the legacy byte shape), and the
  * transform prune mappings must be exactly the write-side derivations.
  */
class CompositeKeySpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_ckspec_$tag"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    p
  }

  /** (tenant, entity) composite key; (region, tenant) composite
    * partition — entity repeats across tenants, tenant repeats across
    * regions, so neither column alone is a key. */
  private def seedDf: DataFrame = Seq(
    ("t1", 1L, "eu", "a"), ("t1", 2L, "eu", "b"), ("t2", 1L, "eu", "c"),
    ("t2", 2L, "us", "d"), ("t3", 1L, "us", "e"), ("t3", 3L, "us", "f"))
    .toDF("tenant", "entity", "region", "payload")

  private def rowsOf(df: DataFrame): Set[(String, Long, String, String)] =
    df.select("tenant", "entity", "region", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet

  test("composite key + composite partition: merge updates by TUPLE, inserts coexisting same-entity rows, deletes by tuple") {
    val t = fresh("multi")
    val st = Snapshot.createMulti(spark, t, seedDf,
      keys = Seq("tenant", "entity"), partitionCols = Seq("region", "tenant"))
    assert(st.version == 1)
    // partition identities are the /-joined component values
    assert(Snapshot.readManifest(t, 1).partitions.keySet ==
      Set("eu~t1", "eu~t2", "us~t2", "us~t3"))
    // upsert: ("t1",1) revises in place; ("t9",1) is a NEW tuple that
    // shares entity=1 with two existing rows and must coexist;
    // delete ("t3",3)
    Snapshot.merge(spark, t,
      upserts = Seq(("t1", 1L, "eu", "a2"), ("t9", 1L, "ap", "z"))
        .toDF("tenant", "entity", "region", "payload"),
      deleteKeys = Seq(("t3", 3L)).toDF("tenant", "entity"))
    assert(rowsOf(Snapshot.readLatest(spark, t)) == Set(
      ("t1", 1L, "eu", "a2"), ("t1", 2L, "eu", "b"), ("t2", 1L, "eu", "c"),
      ("t2", 2L, "us", "d"), ("t3", 1L, "us", "e"), ("t9", 1L, "ap", "z")))
    // time travel still serves v1 whole
    assert(rowsOf(Snapshot.readAt(spark, t, 1)) == rowsOf(seedDf))
  }

  test("composite dup-key gate: two rows per TUPLE reject; same entity under two tenants is fine") {
    val t = fresh("dup")
    Snapshot.createMulti(spark, t, seedDf,
      keys = Seq("tenant", "entity"), partitionCols = Seq("region", "tenant"))
    val e = intercept[IllegalArgumentException] {
      Snapshot.merge(spark, t,
        Seq(("t1", 1L, "eu", "x"), ("t1", 1L, "eu", "y"))
          .toDF("tenant", "entity", "region", "payload"),
        Seq.empty[(String, Long)].toDF("tenant", "entity"))
    }
    assert(e.getMessage.contains("one row per key"))
    // distinct tuples sharing one column pass
    Snapshot.merge(spark, t,
      Seq(("t1", 7L, "eu", "x"), ("t2", 7L, "eu", "y"))
        .toDF("tenant", "entity", "region", "payload"),
      Seq.empty[(String, Long)].toDF("tenant", "entity"))
    assert(Snapshot.readLatest(spark, t).count() == 8)
  }

  test("single-column tables still WRITE the legacy manifest shape (key/partition_col scalars), and legacy JSON parses") {
    val t = fresh("legacy")
    Snapshot.create(spark, t,
      Seq((1L, "a", "p1")).toDF("id", "payload", "part"), "id", "part")
    val json = new String(Files.readAllBytes(
      Paths.get(s"$t/_log/v00000001.json")), "UTF-8")
    assert(json.contains("\"key\"") && json.contains("\"partition_col\""))
    assert(!json.contains("\"keys\"") && !json.contains("\"partition_cols\""))
    val m = Snapshot.readManifest(t, 1)
    assert(m.keys == Seq("id") && m.partitionCols == Seq("part"))
  }

  test("composite prune: per-component pruning on either partition column") {
    val t = fresh("prune")
    Snapshot.createMulti(spark, t, seedDf,
      keys = Seq("tenant", "entity"), partitionCols = Seq("region", "tenant"))
    val total = Snapshot.readManifest(t, 1).files.size
    // region = "eu" keeps only eu/* partitions
    val (euFiles, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("region", "eu", "eu")))
    assert(euFiles.nonEmpty && euFiles.size < total)
    assert(rowsOf(Snapshot.read(spark, t, Seq(Snapshot.InPred("region", Seq("eu"))))) ==
      rowsOf(seedDf.filter($"region" === "eu")))
    // tenant = "t2" spans two regions; component-2 pruning keeps both
    assert(rowsOf(Snapshot.read(spark, t, Seq(Snapshot.InPred("tenant", Seq("t2"))))) ==
      rowsOf(seedDf.filter($"tenant" === "t2")))
    // predicate DML on a partition component: delete all of region us
    Snapshot.deleteWhere(spark, t, Seq(("region", "us", "us")))
    assert(Snapshot.readLatest(spark, t).filter($"region" === "us").count() == 0)
    assert(Snapshot.readLatest(spark, t).count() == 3)
  }

  test("days(ts) transform: derived day partitions, monotone range prune, exact reads, strict bounds stay conservative") {
    val t = fresh("days")
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, Timestamp.valueOf("2024-01-01 23:59:59"), "b"),
      (3L, Timestamp.valueOf("2024-01-02 00:00:01"), "c"),
      (4L, Timestamp.valueOf("2024-01-05 12:00:00"), "d"),
      (5L, Timestamp.valueOf("2024-02-01 00:00:00"), "e"))
      .toDF("id", "ts", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("days(ts)"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.partitions.keySet ==
      Set("2024-01-01", "2024-01-02", "2024-01-05", "2024-02-01"))
    // range on the SOURCE column prunes to exactly the matching days'
    // files (a multi-row day may hold several files — compare sets)
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-02 00:00:00"),
      Timestamp.valueOf("2024-01-06 00:00:00"))))
    val wantFiles = (m.partitions("2024-01-02") ++ m.partitions("2024-01-05"))
      .map(_.path).toSet
    assert(total == m.files.size && kept.map(_.path).toSet == wantFiles)
    val got = Snapshot.read(spark, t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-02 00:00:00"),
      Timestamp.valueOf("2024-01-06 00:00:00"))))
      .select("id").as[Long].collect().toSet
    assert(got == Set(3L, 4L))
    // a strict bound inside a day keeps that day's file (conservative)
    // and the re-applied filter stays exact
    val (keptOpen, _) = Snapshot.prune(t, Seq(Snapshot.BoundPred("ts",
      Some(Timestamp.valueOf("2024-01-01 12:00:00")), None, loStrict = true)))
    assert(keptOpen.map(_.path).toSet == m.files.map(_.path).toSet)
  }

  test("bucket(n, col) transform: point lookups map through the write-side hash; absent keys touch one bucket") {
    val t = fresh("bucket")
    val df = (1L to 64L).map(i => (i, s"p$i")).toDF("id", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("bucket(4,id)"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.partitions.keySet.subsetOf(Set("0", "1", "2", "3")))
    // the executor-side derived bucket equals the driver replay for
    // every row — the prune mapping IS the write-side hash
    (1L to 64L).foreach { i =>
      val want = Snapshot.bucketOf(4, i)
      val (kept, total) = Snapshot.prune(t, Seq(Snapshot.InPred("id", Seq(i))))
      assert(kept.nonEmpty && kept.size < total)
      val viaRead = Snapshot.read(spark, t, Seq(Snapshot.InPred("id", Seq(i))))
        .select("payload").as[String].collect().toSeq
      assert(viaRead == Seq(s"p$i"), s"id=$i bucket=$want")
    }
    // absent key: bucket pruning keeps one bucket, the filter finds none
    assert(Snapshot.read(spark, t, Seq(Snapshot.InPred("id", Seq(999L)))).count() == 0)
    val (keptAbsent, total) = Snapshot.prune(t, Seq(Snapshot.InPred("id", Seq(999L))))
    assert(keptAbsent.size < total)
    // a real RANGE cannot map through a hash: conservative keep-all
    // at the partition layer (stats still prune if tracked)
    val (keptRange, _) = Snapshot.prune(t, Seq(Snapshot.RangePred("id", 10L, 20L)))
    assert(keptRange.size == total || keptRange.size < total) // sound either way
  }

  test("SQL surface: CREATE PARTITIONED BY (region, tenant) with a composite key property; MERGE anchors every key column") {
    val root = fresh("sqlmulti")
    spark.conf.set("spark.sql.catalog.ckcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ckcat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ckcat.db")
    seedDf.createOrReplaceTempView("ck_seed")
    spark.sql("""CREATE TABLE ckcat.db.accounts
      USING graft PARTITIONED BY (region, tenant)
      TBLPROPERTIES ('key' = 'tenant,entity')
      AS SELECT * FROM ck_seed""")
    val dir = s"$root/db/accounts"
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(m.keys == Seq("tenant", "entity"))
    assert(m.partitionCols == Seq("region", "tenant"))
    // compound-key MERGE: update one tuple, insert a tuple sharing
    // its entity with an existing row
    Seq(("t1", 1L, "eu", "A2"), ("t9", 1L, "ap", "Z"))
      .toDF("tenant", "entity", "region", "payload")
      .createOrReplaceTempView("ck_src")
    spark.sql("""MERGE INTO ckcat.db.accounts t USING ck_src s
      ON t.tenant = s.tenant AND t.entity = s.entity
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val out = spark.sql(
      "SELECT tenant, entity, payload FROM ckcat.db.accounts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      ("t1", 1L, "A2"), ("t1", 2L, "b"), ("t2", 1L, "c"),
      ("t2", 2L, "d"), ("t3", 1L, "e"), ("t3", 3L, "f"), ("t9", 1L, "Z")))
    // a MERGE missing one key column's equality refuses by name
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO ckcat.db.accounts t USING ck_src s
        ON t.tenant = s.tenant
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(e.getMessage.contains("every table key column") &&
      e.getMessage.contains("entity"))
    spark.sql("DROP TABLE ckcat.db.accounts")
  }

  test("SQL surface: PARTITIONED BY (days(ts)) creates the transform spec; a timestamp range filter prunes the DSv2 scan's input files") {
    val root = fresh("sqldays")
    spark.conf.set("spark.sql.catalog.ckdays", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ckdays.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ckdays.db")
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, Timestamp.valueOf("2024-01-03 10:00:00"), "b"),
      (3L, Timestamp.valueOf("2024-01-09 10:00:00"), "c"))
      .toDF("id", "ts", "payload").createOrReplaceTempView("ckd_seed")
    spark.sql("""CREATE TABLE ckdays.db.ev USING graft
      PARTITIONED BY (days(ts)) TBLPROPERTIES ('key' = 'id')
      AS SELECT * FROM ckd_seed""")
    val dir = s"$root/db/ev"
    assert(Snapshot.readManifest(dir, 1).partitionCols == Seq("days(ts)"))
    val out = spark.sql("""SELECT id FROM ckdays.db.ev
      WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'
        AND ts < TIMESTAMP'2024-01-05 00:00:00'""")
    assert(out.as[Long].collect().toSeq == Seq(2L))
    // the scan's physical input is pruned to the matching day's file
    val scanned = out.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    assert(scanned <= 1L, s"expected <=1 input file, scanned $scanned")
    spark.sql("DROP TABLE ckdays.db.ev")
  }

  test("static INSERT OVERWRITE on a composite partition names every column; dynamic mode replaces only delivered tuples") {
    val root = fresh("sqlow")
    spark.conf.set("spark.sql.catalog.ckow", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ckow.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ckow.db")
    seedDf.createOrReplaceTempView("ckow_seed")
    spark.sql("""CREATE TABLE ckow.db.acc USING graft
      PARTITIONED BY (region, tenant)
      TBLPROPERTIES ('key' = 'tenant,entity')
      AS SELECT * FROM ckow_seed""")
    // static: both partition columns named — exactly (eu, t1) replaces
    spark.sql("""INSERT OVERWRITE ckow.db.acc
      PARTITION (region = 'eu', tenant = 't1')
      SELECT 99 AS entity, 'nw' AS payload""")
    val after = spark.sql("SELECT tenant, entity, payload FROM ckow.db.acc")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(after.contains(("t1", 99L, "nw")) && !after.exists(_ == ("t1", 1L, "a")))
    assert(after.contains(("t2", 1L, "c"))) // other partitions untouched
    // dynamic: only the delivered (region, tenant) tuples replace
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("""INSERT OVERWRITE ckow.db.acc
        SELECT 't2' AS tenant, 7 AS entity, 'us' AS region, 'dy' AS payload""")
      val dyn = spark.sql("SELECT tenant, entity, payload FROM ckow.db.acc")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(dyn.contains(("t2", 7L, "dy")))
      assert(!dyn.contains(("t2", 2L, "d"))) // us/t2 replaced
      assert(dyn.contains(("t2", 1L, "c")))  // eu/t2 untouched
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    spark.sql("DROP TABLE ckow.db.acc")
  }

  test("repartitionTable: spec evolution as one rewrite commit — old versions keep their spec, new spec prunes, invariants carry") {
    val t = fresh("respec")
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "eu", "a"),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"), "eu", "b"),
      (3L, Timestamp.valueOf("2024-01-02 11:00:00"), "us", "c"),
      (4L, Timestamp.valueOf("2024-01-03 10:00:00"), "us", "d"))
      .toDF("id", "ts", "region", "payload")
    Snapshot.create(spark, t, df, "id", "region",
      constraints = Map("pos_id" -> "id > 0"))
    // migrate region → (days(ts), region) without DROP+CREATE
    val st = Snapshot.repartitionTable(spark, t, Seq("days(ts)", "region"))
    assert(st.version == 2)
    val m2 = Snapshot.readManifest(t, 2)
    assert(m2.partitionCols == Seq("days(ts)", "region"))
    assert(m2.partitions.keySet == Set(
      "2024-01-01~eu", "2024-01-02~eu", "2024-01-02~us", "2024-01-03~us"))
    // rows identical; the OLD version still reads under ITS spec
    assert(Snapshot.readLatest(spark, t).count() == 4)
    assert(Snapshot.readManifest(t, 1).partitionCols == Seq("region"))
    assert(Snapshot.readAt(spark, t, 1).count() == 4)
    // the new spec prunes on the transform source
    val (kept, total) = Snapshot.prune(t, Seq(Snapshot.RangePred("ts",
      Timestamp.valueOf("2024-01-03 00:00:00"),
      Timestamp.valueOf("2024-01-04 00:00:00"))))
    assert(kept.map(_.path).toSet ==
      m2.partitions("2024-01-03~us").map(_.path).toSet && total == m2.files.size)
    // invariants carry: the CHECK still gates post-respec merges
    val e = intercept[Exception] {
      Snapshot.merge(spark, t,
        Seq((-5L, Timestamp.valueOf("2024-01-04 00:00:00"), "eu", "x"))
          .toDF("id", "ts", "region", "payload"),
        Seq.empty[Long].toDF("id"))
    }
    assert(e.getMessage.contains("pos_id"))
    // merges land under the NEW spec
    Snapshot.merge(spark, t,
      Seq((9L, Timestamp.valueOf("2024-01-05 00:00:00"), "eu", "e"))
        .toDF("id", "ts", "region", "payload"),
      Seq.empty[Long].toDF("id"))
    assert(Snapshot.readManifest(t, 3).partitions.contains("2024-01-05~eu"))
    // same-spec respec is a no-op (no version burned); a renamed
    // source refuses
    assert(Snapshot.repartitionTable(spark, t,
      Seq("days(ts)", "region")).version == 3)
    val e2 = intercept[IllegalArgumentException](
      Snapshot.repartitionTable(spark, t, Seq("nope")))
    assert(e2.getMessage.contains("no column"))
    // CLI face: the same verb by name
    val (out, code) = SnapshotTool.run(spark,
      Seq("repartition", t, "region"))
    assert(code == 0 && out.head.contains("repartitioned"))
    assert(Snapshot.readManifest(t, Snapshot.currentVersion(t))
      .partitionCols == Seq("region"))
  }

  test("a staged merge rebased over a concurrent rewrite_partitioning CONFLICTS — never a mixed-spec manifest") {
    val t = fresh("respecrace")
    Snapshot.create(spark, t, seedDf.withColumnRenamed("tenant", "tkey")
      .withColumnRenamed("entity", "eid"), "eid", "region")
    // writer A stages a merge introducing a brand-new partition value
    // (present in NEITHER the base nor the respec'd manifest — the
    // partition-overlap check alone cannot see it)
    val staged = Snapshot.stageMerge(spark, t,
      upserts = Seq(("t9", 99L, "apac", "z"))
        .toDF("tkey", "eid", "region", "payload"),
      deleteKeys = Seq.empty[Long].toDF("eid"))
    // writer B respecs the table meanwhile
    Snapshot.repartitionTable(spark, t, Seq("tkey"))
    val e = intercept[Snapshot.CommitConflictException](
      Snapshot.commitStaged(spark, staged))
    assert(e.getMessage.contains("partition-spec"))
    staged.abort()
    // the retry path recomputes under the NEW spec and lands cleanly
    Snapshot.merge(spark, t,
      Seq(("t9", 99L, "apac", "z")).toDF("tkey", "eid", "region", "payload"),
      Seq.empty[Long].toDF("eid"))
    assert(Snapshot.readManifest(t, Snapshot.currentVersion(t))
      .partitions.contains("t9"))
  }

  test("splitSpecs: ONE spec grammar across CALL/CLI/sink — bucket(n,col) survives the comma split everywhere") {
    assert(Snapshot.PartField.splitSpecs("bucket(8,id),region") ==
      Seq("bucket(8,id)", "region"))
    assert(Snapshot.PartField.splitSpecs(" days(ts) , bucket(4, uid) ,") ==
      Seq("days(ts)", "bucket(4, uid)"))
    // CLI: a bucket respec through the verb
    val t = fresh("bucketcli")
    Snapshot.create(spark, t,
      (1L to 20L).map(i => (i, s"p${i % 3}")).toDF("id", "part"),
      "id", "part")
    val (out, code) = SnapshotTool.run(spark,
      Seq("repartition", t, "bucket(4,id)"))
    assert(code == 0, out.mkString("; "))
    assert(Snapshot.readManifest(t, 2).partitionCols == Seq("bucket(4,id)"))
    // sink: the exact option string that creates also re-validates
    // (trailing comma and all)
    val t2 = fresh("sinkgram")
    val sink = new graft.sources.GraftStreamSink(t2,
      Some("tenant,entity,"), Some("region,tenant"), Nil)
    sink.addBatch(0, seedDf)
    sink.addBatch(1, Seq(("t1", 2L, "eu", "b2"))
      .toDF("tenant", "entity", "region", "payload")) // must not throw
    assert(Snapshot.currentVersion(t2) == 2)
  }

  test("days() refuses a non-UTC session: the stored partition values are UTC days and a drifted session would silently mis-prune") {
    val t = fresh("daystz")
    val df = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
      .toDF("id", "ts", "payload")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] {
        Snapshot.createMulti(spark, t, df,
          keys = Seq("id"), partitionCols = Seq("days(ts)"))
      }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // back under UTC the same create succeeds
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("days(ts)"))
    assert(Snapshot.readLatest(spark, t).count() == 1)
  }

  test("replaceTable consults ALL barred reasons: a stats-tracked column that ALSO anchors a CHECK refuses with the invariant message") {
    val t = fresh("respbar")
    val df = Seq((1L, "p1", 5.0), (2L, "p1", 7.0))
      .toDF("id", "part", "score")
    Snapshot.create(spark, t, df, "id", "part",
      statsCols = Seq("score"),
      constraints = Map("s_pos" -> "score >= 0"))
    val e = intercept[IllegalArgumentException] {
      Snapshot.replaceTable(spark, t,
        Seq((1L, "p1")).toDF("id", "part"))
    }
    assert(e.getMessage.contains("CHECK"),
      s"expected the invariant refusal, got: ${e.getMessage}")
    assert(Snapshot.currentVersion(t) == 1)
  }

  test("stream sink creates composite/transformed tables from the same comma grammar it validates") {
    val t = fresh("sinkck")
    val sink = new graft.sources.GraftStreamSink(t,
      Some("tenant,entity"), Some("region,tenant"), Nil)
    sink.addBatch(0, seedDf)
    val m = Snapshot.readManifest(t, 1)
    assert(m.keys == Seq("tenant", "entity") &&
      m.partitionCols == Seq("region", "tenant"))
    // the second batch merges through the SAME spec validation
    sink.addBatch(1, Seq(("t1", 1L, "eu", "a2"))
      .toDF("tenant", "entity", "region", "payload"))
    assert(Snapshot.readLatest(spark, t)
      .filter($"payload" === "a2").count() == 1)
  }

  test("updateWhere refuses key and partition SOURCE columns on composite/transformed tables") {
    val t = fresh("updbar")
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
      .toDF("id", "ts", "payload")
    Snapshot.createMulti(spark, t, df,
      keys = Seq("id"), partitionCols = Seq("days(ts)"),
      statsCols = Seq("ts"))
    val e = intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, t, Seq(("id", 1L, 1L)),
        Map("ts" -> lit(Timestamp.valueOf("2024-06-01 00:00:00"))))
    }
    assert(e.getMessage.contains("cannot update key/partition column"))
  }
}
