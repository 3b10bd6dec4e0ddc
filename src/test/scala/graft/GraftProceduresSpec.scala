package graft

import graft.operators.Snapshot
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}

/**
 * SQL maintenance procedures — `CALL graft.system.<verb>(…)` through
 * Spark's native ProcedureCatalog. Each verb runs the SAME Scala
 * implementation the programmatic API and [[SnapshotTool]] run (the
 * CLI calls `Snapshot.compact/vacuum/fsck/…` directly — see
 * SnapshotTool.run — so SQL ≡ CLI ≡ Scala by construction; the
 * compact case proves it commit-for-commit).
 */
class GraftProceduresSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val rootDir: String = {
    val p = Files.createTempDirectory("graft_proc_spec").toString
    spark.conf.set("spark.sql.catalog.gproc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gproc.root", p)
    p
  }

  /** A fragmented table: a create from rows spread over 8 tasks (up to
    * 8 files per partition) + 3 trickle merges into p0 (each rewrites
    * p0 as one file) → 4 versions of history. */
  private def seedFragmented(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gproc.ns")
    (0 until 40).map(i => (i.toLong, s"pay_$i", s"p${i / 10}"))
      .toDF("id", "payload", "part").repartition(8)
      .createOrReplaceTempView(s"proc_seed_$name")
    spark.sql(s"DROP TABLE IF EXISTS gproc.ns.$name")
    spark.sql(s"CREATE TABLE gproc.ns.$name USING graft " +
      "TBLPROPERTIES ('key'='id','partitionCol'='part') " +
      s"AS SELECT * FROM proc_seed_$name")
    val dir = s"$rootDir/ns/$name"
    (1 to 3).foreach { k =>
      Snapshot.merge(spark, dir,
        upserts = Seq((k.toLong, s"upd$k", "p0")).toDF("id", "payload", "part"),
        deleteKeys = spark.range(0, 0).selectExpr("id"))
    }
    dir
  }

  private def rowsOf(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "payload", "part").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("CALL compact by name is commit-for-commit the Scala API compact") {
    val _ = rootDir
    val d1 = seedFragmented("c_sql")
    val d2 = seedFragmented("c_api")
    val out = spark.sql("CALL gproc.system.compact('ns.c_sql')").collect()(0)
    val api = Snapshot.compact(spark, d2, maxFilesPerPartition = 4)
    // the returned row mirrors the Scala CommitStats
    assert(out.getInt(0) == api.version &&
      out.getInt(1) == api.rewrittenPartitions.size &&
      out.getInt(2) == api.filesWritten)
    // commit-for-commit: same history ops, same per-partition file
    // counts, same rows
    assert(Snapshot.history(d1).map(t => (t._1, t._2)) ==
      Snapshot.history(d2).map(t => (t._1, t._2)))
    def layout(d: String) = {
      val m = Snapshot.readManifest(d, Snapshot.currentVersion(d))
      m.partitions.map { case (p, fs) => p -> fs.size }
    }
    assert(layout(d1) == layout(d2))
    assert(rowsOf(Snapshot.readLatest(spark, d1)) ==
      rowsOf(Snapshot.readLatest(spark, d2)))
    // named-argument form works too
    spark.sql("CALL gproc.system.compact('ns.c_sql', " +
      "max_files_per_partition => 1)")
    assert(Snapshot.readManifest(d1, Snapshot.currentVersion(d1))
      .partitions.values.forall(_.size <= 1))
  }

  test("CALL vacuum honors tag pins; untag releases them") {
    val _ = rootDir
    val d = seedFragmented("v")
    val tagged = spark.sql("CALL gproc.system.tag('ns.v', 'train-cut', 1)")
      .collect()(0)
    assert(tagged.getString(0) == "train-cut" && tagged.getInt(1) == 1)
    val v1Rows = rowsOf(Snapshot.readAt(spark, d, 1))
    val r1 = spark.sql("CALL gproc.system.vacuum('ns.v', retain_last => 1)")
      .collect()(0)
    assert(r1.getLong(2) >= 0L) // bytes_freed
    // the pinned version survived however far retention moved
    assert(rowsOf(Snapshot.readTag(spark, d, "train-cut")) == v1Rows,
      "vacuum must retain the tagged version's files")
    assert(spark.sql("CALL gproc.system.untag('ns.v', 'train-cut')")
      .collect()(0).getString(0) == "train-cut")
    val r2 = spark.sql("CALL gproc.system.vacuum('ns.v', retain_last => 1)")
      .collect()(0)
    assert(r2.getInt(0) > 0 || r2.getInt(1) > 0,
      "after untag the pinned version's files/manifests reclaim")
    intercept[Exception] { Snapshot.readAt(spark, d, 1).collect() }
  }

  test("CALL vacuum retain_hours and expire_snapshots ride the committed_at axis") {
    val _ = rootDir
    val d = seedFragmented("age") // v1..v4
    Thread.sleep(25)
    val cut = System.currentTimeMillis() // after v4
    Thread.sleep(25)
    Snapshot.merge(spark, d, // v5
      upserts = Seq((99L, "young", "p0")).toDF("id", "payload", "part"),
      deleteKeys = spark.range(0, 0).selectExpr("id"))
    // retain_hours spanning only the post-cut commit: count window (1)
    // keeps v5, the age window adds nothing older — v1..v3 drop, and
    // the named-arg double coerces
    spark.sql("CALL gproc.system.vacuum('ns.age', retain_last => 2, " +
      "retain_hours => 0.0001)")
    assert(Snapshot.history(d).map(_._1) == Seq(4, 5))
    // expire_snapshots at the between-commits instant: v4 (committed
    // before the cut) expires, the current v5 survives
    val out = spark.sql("CALL gproc.system.expire_snapshots('ns.age', " +
      s"older_than => '$cut')").collect()(0)
    assert(out.getInt(1) == 1, s"exactly v4's manifest expires, got $out")
    assert(Snapshot.history(d).map(_._1) == Seq(5))
    assert(rowsOf(Snapshot.readLatest(spark, d)).exists(_._1 == 99L))
  }

  test("CALL fsck returns findings as a result frame; clean table returns zero rows") {
    val _ = rootDir
    val d = seedFragmented("f")
    assert(spark.sql("CALL gproc.system.fsck('ns.f')").count() == 0L)
    // break one referenced data file: fsck reports it as rows
    val m = Snapshot.readManifest(d, Snapshot.currentVersion(d))
    val victim = m.files.head.path
    Files.delete(Paths.get(s"$d/$victim"))
    val issues = spark.sql("CALL gproc.system.fsck('ns.f')").collect()
    assert(issues.nonEmpty && issues.exists(_.getString(1) == victim),
      s"fsck must name the missing file, got ${issues.mkString(",")}")
  }

  test("CALL relayout / rollback commit like their Scala verbs") {
    val _ = rootDir
    val d = seedFragmented("r")
    val before = rowsOf(Snapshot.readLatest(spark, d))
    val out = spark.sql(
      "CALL gproc.system.relayout('ns.r', 2)").collect()(0)
    assert(out.getInt(0) == Snapshot.currentVersion(d))
    assert(Snapshot.history(d).last._2.startsWith("relayout"))
    assert(rowsOf(Snapshot.readLatest(spark, d)) == before,
      "relayout is a layout change, never a data change")
    // rollback to v1 restores the pre-merge content as a NEW version
    val rb = spark.sql("CALL gproc.system.rollback('ns.r', 1)").collect()(0)
    assert(rb.getInt(0) == Snapshot.currentVersion(d))
    assert(rowsOf(Snapshot.readLatest(spark, d)) ==
      rowsOf(Snapshot.readAt(spark, d, 1)))
  }

  test("CALL rewrite_partitioning respecs the table like the Scala verb") {
    val _ = rootDir
    val dir = seedFragmented("resp")
    val out = spark.sql(
      "CALL gproc.system.rewrite_partitioning('ns.resp', 'payload')")
      .collect()(0)
    val m = Snapshot.readManifest(dir, Snapshot.currentVersion(dir))
    assert(out.getInt(0) == m.version &&
      m.partitionCols == Seq("payload"))
    assert(Snapshot.readLatest(spark, dir).count() == 40)
    // old spec still serves its own versions
    assert(Snapshot.readManifest(dir, 1).partitionCols == Seq("part"))
  }

  test("refusals: unknown table, unknown procedure, wrong namespace; SHOW lists the verbs") {
    val _ = rootDir
    seedFragmented("x")
    val e1 = intercept[Exception] {
      spark.sql("CALL gproc.system.compact('ns.nope')").collect()
    }
    assert(e1.getMessage.contains("nope"))
    // Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE;
    // the catalog's message (naming the available verbs) is the cause
    def fullMsg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    val e2 = intercept[Exception] {
      spark.sql("CALL gproc.system.explode('ns.x')").collect()
    }
    assert(e2.getMessage.contains("explode") &&
      fullMsg(e2).contains("compact"), "refusal lists the available verbs")
    val e3 = intercept[Exception] {
      spark.sql("CALL gproc.ops.compact('ns.x')").collect()
    }
    assert(fullMsg(e3).contains("system"))
    // the catalog enumerates its verbs
    val listed = spark.sessionState.catalogManager.catalog("gproc")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
      .listProcedures(Array("system")).map(_.name).toSet
    assert(listed == Set("compact", "vacuum", "expire_snapshots", "fsck",
      "relayout", "rewrite_partitioning", "tag", "untag", "rollback"))
  }
}
