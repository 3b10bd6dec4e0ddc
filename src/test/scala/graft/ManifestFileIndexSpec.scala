package graft

import graft.operators.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** Snapshot reads serve their file index from the manifest: no
  * listing job, no stat per file, the same relation a
  * `spark.read.parquet` of the same files would give. */
class ManifestFileIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = freshDir(s"graft_mfispec_$tag")

  /** `n` rows, ids 0 until n, over `parts` partitions. */
  private def rows(n: Int, parts: Int): DataFrame =
    (0 until n).map(i => (i.toLong, s"v$i", s"p${i % parts}"))
      .toDF("id", "payload", "part")

  private def described(jobs: Seq[java.util.Properties]): String =
    jobs.map(_.getProperty("spark.job.description")).mkString("; ")

  test("reads over a 40-file table start no Spark job and equal a listing read of the same files") {
    val t = fresh("wide")
    Snapshot.create(spark, t, rows(400, 40), "id", "part", statsCols = Seq("id"))
    val m = Snapshot.readManifest(t, 1)
    assert(m.files.size > 32 && m.files.forall(_.bytes > 0))
    val (latest, j1) = jobsStarted(Snapshot.readLatest(spark, t))
    assert(j1.isEmpty, s"readLatest started jobs: ${described(j1)}")
    val (pruned, j2) = jobsStarted(Snapshot.read(spark, t,
      Seq(Snapshot.BoundPred("id", Some(100L), None))))
    assert(j2.isEmpty, s"read started jobs: ${described(j2)}")

    val schema = StructType.fromDDL(m.schemaDdl)
    val listed = spark.read.schema(schema).parquet(m.files.map(f => s"$t/${f.path}"): _*)
    assert(latest.schema === listed.schema)
    assert(latest.collect().toSet === listed.collect().toSet)
    assert(pruned.collect().toSet === listed.filter(col("id") >= 100L).collect().toSet)
    // the DV mask matches rows on these strings
    def filePaths(df: DataFrame): Set[String] =
      df.select("_metadata.file_path").distinct().as[String].collect().toSet
    assert(filePaths(latest) === filePaths(listed))
    // the same size estimate, so AQE makes the same broadcast decisions
    assert(latest.queryExecution.optimizedPlan.stats.sizeInBytes ===
      listed.queryExecution.optimizedPlan.stats.sizeInBytes)
    // a rebuilt read is the same plan: the cache recognizes it
    latest.cache()
    try assert(Snapshot.readLatest(spark, t).storageLevel.useMemory)
    finally latest.unpersist(blocking = true)
  }

  test("a merge starts as many Spark jobs on a 40-file table as on a 4-file one") {
    def mergeJobs(files: Int): Int = {
      val t = fresh(s"merge_jobs_$files")
      // one partition of `files` key ranges: the merge target and its
      // survivors are both `files` files
      Snapshot.create(spark, t, rows(files * 10, 1), "id", "part",
        fileRanges = files)
      assert(Snapshot.readManifest(t, 1).files.size == files)
      val (_, jobs) = jobsStarted(Snapshot.merge(spark, t,
        upserts = Seq((5L, "new", "p0")).toDF("id", "payload", "part"),
        deleteKeys = Seq(7L).toDF("id")))
      val latest = Snapshot.readLatest(spark, t)
      assert(latest.count() == files * 10 - 1)
      assert(latest.filter(col("id") === 5L).select("payload").as[String]
        .collect().toSeq == Seq("new"))
      jobs.size
    }
    assert(mergeJobs(40) === mergeJobs(4))
  }

  test("create and a merge that rewrite 40 partitions start no listing job") {
    val t = fresh("wide_commit")
    def listings(jobs: Seq[java.util.Properties]) =
      jobs.map(_.getProperty("spark.job.description"))
        .filter(d => d != null && d.contains("Listing leaf files"))
    val (_, created) = jobsStarted(
      Snapshot.create(spark, t, rows(400, 40), "id", "part", statsCols = Seq("id")))
    assert(listings(created).isEmpty, s"create listed: ${described(created)}")
    assert(Snapshot.readManifest(t, 1).partitions.size == 40)
    // one upsert and one delete per partition: all 40 are rewritten
    val (st, merged) = jobsStarted(Snapshot.merge(spark, t,
      upserts = (0 until 40).map(i => (i.toLong, s"new$i", s"p$i"))
        .toDF("id", "payload", "part"),
      deleteKeys = (40 until 80).map(_.toLong).toDF("id")))
    assert(listings(merged).isEmpty, s"merge listed: ${described(merged)}")
    assert(st.rewrittenPartitions.size == 40)
    assert(Snapshot.fsck(spark, t).isEmpty)
    val expected = (0 until 400).filterNot(i => i >= 40 && i < 80)
      .map(i => (i.toLong, if (i < 40) s"new$i" else s"v$i", s"p${i % 40}")).toSet
    assert(Snapshot.readLatest(spark, t).select("id", "payload", "part")
      .as[(Long, String, String)].collect().toSet === expected)
  }

  test("a read whose files are gone fails when it runs, never returning partial rows") {
    val t = fresh("gone")
    Snapshot.create(spark, t, rows(40, 4), "id", "part")
    val m = Snapshot.readManifest(t, 1)
    Files.delete(Paths.get(t, m.files.head.path))
    val df = Snapshot.readLatest(spark, t)
    intercept[Exception](df.collect())
    intercept[Exception](df.count())
    intercept[Exception](Snapshot.readAt(spark, t, 1).select("id").collect())
  }

  test("entries without a recorded size, and a manifest without a schema, still read") {
    val t = fresh("legacy")
    Snapshot.create(spark, t, rows(40, 4), "id", "part")
    val m = Snapshot.readManifest(t, 1)
    val legacy = m.copy(version = 2, parent = 1, op = "legacy",
      partitions = m.partitions.map { case (p, fs) => p -> fs.map(_.copy(bytes = 0L)) },
      schemaDdl = "")
    Snapshot.writeManifest(t, legacy)
    val got = Snapshot.readAt(spark, t, 2)
    assert(got.columns.toSeq === Seq("id", "payload", "part"))
    assert(got.select("id").as[Long].collect().sorted.toSeq === (0L until 40L))
  }
}
