package graft

import graft.operators.{ManifestFileIndex, Snapshot}
import graft.operators.Snapshot.{ColStats, FileEntry, Manifest}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The manifest entries a commit's write job gathers equal, byte for
  * byte, what a scan of the committed files computes: rows, bytes,
  * min/max/nulls/sum strings, bloom and trigram-bloom bits and HLL
  * registers, on every commit path that writes data files. */
class TrackedWriteSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("part", StringType),
    StructField("d", DoubleType), StructField("n", IntegerType),
    StructField("s", StringType)))

  private def frame(rows: (Long, String, java.lang.Double, Integer, String)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, p, d, n, s) => Row(id, p, d, n, s) }, 3), schema)

  /** The entries of `files` as a scan computes them: one column-pruned
    * read of just those files, grouped by file, each aggregate over its
    * rows; sizes from the scan's own file metadata. */
  private def scanned(t: String, m: Manifest, files: Seq[FileEntry]): Map[String, FileEntry] = {
    val root0 = new Path(t)
    val fs = root0.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(root0)
    val statuses = files.map(f => fs.getFileStatus(new Path(root, f.path)))
      .map(f => new FileStatus(f.getLen, false, 0, 0, 0, f.getPath))
    val df = ManifestFileIndex.frame(spark, root, statuses, StructType.fromDDL(m.schemaDdl))
    val tracked = m.statsCols.flatMap(c => Snapshot.statKind(df.schema(c).dataType).map(c -> _))
    val summed = tracked.collect { case (c, _)
      if Seq(ByteType, ShortType, IntegerType, LongType).contains(df.schema(c).dataType) => c }.toSet
    val bloomed = m.bloomCols.map { spec => val (tri, c) = Snapshot.bloomSpec(spec); (spec, c, tri) }
    val aggs = (count(lit(1)).as("__rows") +:
      max(col("_metadata.file_size")).as("__bytes") +:
      tracked.flatMap { case (c, _) => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        (if (summed(c)) Seq(sum(col(c)).cast("string").as(s"__sum_$c")) else Nil)
      }) ++
      bloomed.map { case (spec, c, tri) =>
        (if (tri) functions.BloomExprs.triBloomBuild(col(c).cast("string"), m.bloomBits, m.bloomK)
         else functions.BloomExprs.bloomBuild(col(c).cast("string"), m.bloomBits, m.bloomK))
          .as(s"__bloom_$spec")
      } ++
      m.hllCols.map(c => functions.HllExprs
        .hllSketch(col(c).cast("string"), m.hllP, portable = true).as(s"__hll_$c"))
    df.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val full = r.getAs[String]("__file")
        val rel = full.substring(full.lastIndexOf("/files/c") + 1)
        rel -> FileEntry(rel, r.getAs[Long]("__rows"),
          tracked.map { case (c, kind) => c -> ColStats(kind,
            Option(r.getAs[String](s"__min_$c")), Option(r.getAs[String](s"__max_$c")),
            r.getAs[Long](s"__nulls_$c"),
            if (summed(c)) Option(r.getAs[String](s"__sum_$c")) else None) }.toMap,
          bloomed.map { case (spec, _, _) => spec -> r.getAs[Array[Byte]](s"__bloom_$spec") }.toMap,
          None,
          m.hllCols.map(c => c -> r.getAs[Array[Byte]](s"__hll_$c")).toMap,
          bytes = r.getAs[Long]("__bytes"))
      }.toMap
  }

  /** Version `v`'s freshly written entries equal the scan of their files. */
  private def assertGathered(t: String, v: Int): Unit = {
    val m = Snapshot.readManifest(t, v)
    val prefix = f"files/c$v%08d/"
    val fresh = m.files.filter(_.path.startsWith(prefix))
    assert(fresh.nonEmpty, s"v$v wrote no files")
    val oracle = scanned(t, m, fresh)
    assert(fresh.map(_.path).toSet == oracle.keySet, s"v$v")
    fresh.foreach { e =>
      val o = oracle(e.path)
      assert((e.rows, e.bytes, e.stats) == (o.rows, o.bytes, o.stats), s"v$v ${e.path}")
      assert(e.stats.keySet == Set("id", "d", "n", "s"))
      assert(o.bytes > 0 && e.dv.isEmpty)
      for ((got, want) <- Seq(e.blooms -> o.blooms, e.hlls -> o.hlls)) {
        assert(got.keySet == want.keySet, s"v$v ${e.path}")
        got.foreach { case (c, b) =>
          assert(java.util.Arrays.equals(b, want(c)), s"v$v ${e.path} $c") }
      }
    }
  }

  test("a commit's write job gathers the entries a scan of its files computes, byte for byte") {
    val t = freshDir("graft_trackedwrite")
    val nan = java.lang.Double.NaN
    Snapshot.create(spark, t, frame(
      (1L, "007", -0.0, 5, "alpha"), (2L, "007", 0.0, null, "alphabet"),
      (3L, "007", 2.5, -7, null), (4L, "010", nan, 3, "bravo"),
      (5L, "010", -1.5, 9, "charlie"), (6L, "010", null, 1, "bravo"),
      (7L, "x", 1.0, null, "delta"), (8L, "x", null, null, null)),
      "id", "part", statsCols = Seq("d", "n", "s"),
      bloomCols = Seq("s", "3g:s"), bloomBits = 1 << 12, hllCols = Seq("s"))
    assertGathered(t, 1)
    val v1 = Snapshot.readManifest(t, 1)
    assert(v1.partitions("x").exists(f => f.stats("n").nulls == f.rows && f.stats("n").min.isEmpty),
      "an all-null file")
    assert(v1.partitions.keySet == Set("007", "010", "x"))

    Snapshot.merge(spark, t, frame((3L, "007", nan, 11, "echo"),
      (9L, "010", -0.0, null, "foxtrot")), Seq(5L).toDF("id"))
    assertGathered(t, 2)

    Snapshot.commitStaged(spark, Snapshot.stageMerge(spark, t,
      frame((10L, "x", 0.0, 4, "golf"), (1L, "007", null, null, null)), Seq(6L).toDF("id")))
    assertGathered(t, 3)

    Snapshot.updateMatching(spark, t, Seq(Snapshot.RangePred("id", 2L, 4L)),
      Map("s" -> lit("hotel"), "n" -> lit(null)))
    assertGathered(t, 4)

    Snapshot.compact(spark, t, maxFilesPerPartition = 0)
    assertGathered(t, 5)
    assert(Snapshot.readManifest(t, 5).files.forall(_.path.startsWith("files/c00000005/")))
    assert(Snapshot.fsck(spark, t).isEmpty)
  }
}
