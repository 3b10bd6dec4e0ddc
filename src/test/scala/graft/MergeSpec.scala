package graft

import graft.operators.Merge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class MergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTarget(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_mergespec_$tag"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    p
  }

  /** (relative path, size, mtime) of every data file under dir. */
  private def fileState(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith("_") &&
        !f.getFileName.toString.startsWith(".")) // .crc sidecars aren't data
      .map(f => root.relativize(f).toString ->
        ((Files.size(f), Files.getLastModifiedTime(f).toMillis)))
      .toMap
    finally walk.close()
  }

  private def seed(path: String): DataFrame = {
    val df = Seq(
      (1L, "alpha", "p1"), (2L, "bravo", "p1"), (3L, "charlie", "p1"),
      (4L, "delta", "p2"), (5L, "echo", "p2"),
      (6L, "foxtrot", "p3"), (7L, "golf", "p3"),
      (8L, "hotel", "p4")).toDF("id", "payload", "part")
    df.write.mode("overwrite").partitionBy("part").parquet(path)
    df
  }

  private def readBack(path: String): Set[(Long, String, String)] =
    spark.read.parquet(path).select("id", "payload", "part")
      .as[(Long, String, String)].collect().toSet

  test("mergeInto == full rewrite; untouched partition files byte-identical") {
    val path = freshTarget("cow")
    seed(path)
    val before = fileState(path)

    // change set: update id 2 (p1), move id 4 p2→p5, insert id 9 (p1),
    // delete id 6 (p3). p4 is untouched; p2 loses its only changed row
    // but keeps id 5.
    val upserts = Seq(
      (2L, "bravo-v2", "p1"), (4L, "delta-moved", "p5"),
      (9L, "india", "p1")).toDF("id", "payload", "part")
    val deletes = Seq(Tuple1(6L)).toDF("id")
    val stats = Merge.mergeInto(spark, path, upserts, deletes, "id", "part")

    val expected = Set(
      (1L, "alpha", "p1"), (2L, "bravo-v2", "p1"), (3L, "charlie", "p1"),
      (5L, "echo", "p2"), (7L, "golf", "p3"), (8L, "hotel", "p4"),
      (4L, "delta-moved", "p5"), (9L, "india", "p1"))
    assert(readBack(path) === expected, "merged state must equal a full rewrite")

    val after = fileState(path)
    val untouchedBefore = before.filter(_._1.startsWith("part=p4"))
    assert(untouchedBefore.nonEmpty)
    assert(after.view.filterKeys(_.startsWith("part=p4")).toMap === untouchedBefore,
      "partition p4 contains no changed key — its files must not be rewritten")
    // affected partitions DID rewrite
    assert(stats.rewritten.toSet === Set("p1", "p2", "p3", "p5"))
    assert(stats.dropped.isEmpty)
    assert(stats.upsertRows === 3 && stats.deleteKeys === 1)
  }

  test("deleting every row of a partition removes its directory") {
    val path = freshTarget("drop")
    seed(path)
    val deletes = Seq(Tuple1(6L), Tuple1(7L)).toDF("id")
    val stats = Merge.mergeInto(spark, path,
      Seq.empty[(Long, String, String)].toDF("id", "payload", "part"),
      deletes, "id", "part")
    assert(stats.dropped === Seq("p3"))
    assert(!Files.exists(Paths.get(path, "part=p3")),
      "an emptied partition directory must be removed")
    assert(readBack(path).map(_._1) === Set(1L, 2L, 3L, 4L, 5L, 8L))
  }

  test("merge is idempotent: re-applying the same change set is a no-op state") {
    val path = freshTarget("idem")
    seed(path)
    val upserts = Seq((2L, "bravo-v2", "p1")).toDF("id", "payload", "part")
    val deletes = Seq(Tuple1(8L)).toDF("id")
    Merge.mergeInto(spark, path, upserts, deletes, "id", "part")
    val once = readBack(path)
    Merge.mergeInto(spark, path, upserts, deletes, "id", "part")
    assert(readBack(path) === once)
  }

  test("a key in both upserts and deleteKeys is rejected") {
    val path = freshTarget("overlap")
    seed(path)
    val ex = intercept[IllegalArgumentException] {
      Merge.mergeInto(spark, path,
        Seq((2L, "x", "p1")).toDF("id", "payload", "part"),
        Seq(Tuple1(2L)).toDF("id"), "id", "part")
    }
    assert(ex.getMessage.contains("BOTH"))
  }

  test("rewrite scan is partition-pruned to the affected partitions") {
    val path = freshTarget("prune")
    seed(path)
    // probe the plan shape mergeInto builds for the rewrite read: a
    // partition-column filter must reach the scan as a PartitionFilter
    // (directory pruning), so rewrite IO is bounded by affected bytes
    val probe = spark.read.parquet(path)
      .filter(col("part").cast("string").isin("p1", "p2"))
    val scan = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty,
      s"partition filter did not prune:\n${probe.queryExecution.executedPlan}")
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).size === before2Partitions(path),
      "scan must list only the two affected partitions' files")
  }

  private def before2Partitions(path: String): Int =
    fileState(path).keys.count(k => k.startsWith("part=p1") || k.startsWith("part=p2"))

  test("replay of the same change set is idempotent; untouched partition p4 not rewritten") {
    val path = freshTarget("replay")
    seed(path)
    val beforeP4 = fileState(path).filter(_._1.startsWith("part=p4"))
    // update id 2, move id 4 p2→p5, delete id 6 and the absent id 9
    def apply() = Merge.mergeInto(spark, path,
      Seq((2L, "bravo-new", "p1"), (4L, "delta-moved", "p5")).toDF("id", "payload", "part"),
      Seq(Tuple1(6L), Tuple1(9L)).toDF("id"), "id", "part")
    apply()
    val once = readBack(path)
    assert(once === Set((1L, "alpha", "p1"), (2L, "bravo-new", "p1"),
      (3L, "charlie", "p1"), (5L, "echo", "p2"), (7L, "golf", "p3"),
      (8L, "hotel", "p4"), (4L, "delta-moved", "p5")))
    apply()
    assert(readBack(path) === once, "replaying the change set must be idempotent")
    assert(fileState(path).filter(_._1.startsWith("part=p4")) === beforeP4,
      "partition p4 saw no change in either merge — files must not be rewritten")
  }

  test("a merge that fails at any delete or rename of its swap completes on rerun") {
    // p1 rewritten, p2 loses a key to the new p5, p4 emptied
    val expected = Set((1L, "alpha", "p1"), (2L, "bravo-v2", "p1"),
      (3L, "charlie", "p1"), (5L, "echo", "p2"), (6L, "foxtrot", "p3"),
      (7L, "golf", "p3"), (4L, "delta-moved", "p5"))
    def merge(path: String) = Merge.mergeInto(spark, s"file://$path",
      Seq((2L, "bravo-v2", "p1"), (4L, "delta-moved", "p5")).toDF("id", "payload", "part"),
      Seq(Tuple1(8L)).toDF("id"), "id", "part")
    def leftovers(path: String) = {
      val f = new java.io.File(path)
      f.getParentFile.list().filter(_.startsWith(f.getName + ".__graft_merge")).toSeq
    }
    try {
      spark.conf.set("spark.graft.logstore.file", "graft.FaultyLogStore")
      val clean = freshTarget("swap_clean")
      seed(clean)
      FaultyLogStore.mutations.set(0)
      merge(clean)
      val steps = FaultyLogStore.mutations.get()
      assert(readBack(clean) === expected)
      assert(steps >= 7, s"only $steps deletes and renames counted")
      (0 until steps).foreach { i =>
        val path = freshTarget(s"swap_fault$i")
        seed(path)
        FaultyLogStore.mutations.set(0)
        FaultyLogStore.failMutation = i
        intercept[java.io.IOException](merge(path))
        FaultyLogStore.failMutation = -1
        merge(path)
        assert(readBack(path) === expected, s"rerun after a failure at step $i")
        assert(leftovers(path).isEmpty, s"step $i left ${leftovers(path)}")
      }
    } finally {
      FaultyLogStore.failMutation = -1
      spark.conf.unset("spark.graft.logstore.file")
    }
  }

  test("metadata sink saveMode=merge applies __deleted rows as deletes") {
    val path = freshTarget("meta")
    seed(path)
    val incoming = Seq(
      (2L, "bravo-meta", "p1", false),
      (6L, "ignored", "p3", true)).toDF("id", "payload", "part", "__deleted")
    graft.sinks.Writers.write(incoming, graft.meta.SinkSpec(
      input = "in", name = "merge_sink", paths = Seq(path),
      format = "parquet", saveMode = "merge",
      partitionBy = Seq("part"), mergeKey = "id"))
    val got = readBack(path)
    assert(got.contains((2L, "bravo-meta", "p1")))
    assert(!got.exists(_._1 == 6L), "__deleted row must remove key 6")
    assert(got.size === 7)
  }
}
