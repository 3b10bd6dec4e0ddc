package graft.dev

import graft.operators.{LogStore, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Measures the MANIFEST metadata curve at scale — the round-14 ask:
 * "the format rewrites the entire live-file inventory as one JSON per
 * commit and re-parses it per planning pass; measure where that curve
 * bends, then bound it."
 *
 * Synthetic manifests at 1k / 10k / 100k tracked files (per-file
 * min/max stats on two columns + a bloom blob per file — the
 * realistic heavy shape), measured in BOTH log modes:
 *
 *  - `inline`  — the pre-r14 design: one JSON carries every entry;
 *    every commit serializes all of it, every cold read parses all
 *    of it (forced via graft.manifest.segmentThreshold=MaxValue);
 *  - `seg`     — the r14 design: past the threshold each partition's
 *    entries live in an immutable `_log/seg/` file and the manifest
 *    is a SEGMENT LIST, so a commit touching one partition
 *    serializes/writes that partition + the list, not the table.
 *
 * Per (scale × mode) row: full-commit wall (all segments fresh),
 * touch-ONE-partition commit wall and its new bytes (the everyday
 * trickle-merge shape — where segmentation changes the complexity
 * class), total log bytes, cold parse wall, memoized re-read wall
 * (the per-query planning overhead after r14's (table, version)
 * memo), a stats-prune fold wall and a three-conjunct prune wall
 * (`prune3_s`: id bound + partition range + IN list). Plus one
 * REAL-table anchor at ~1k files driving the DSv2 planning path
 * end-to-end, cold vs memo, plus the plan of an unfiltered scan.
 *
 * Emits one JSON line per row to `manifestbench_out.json` (override
 * with SPARK_GRAFT_MANIFESTBENCH_OUT) and a `summary` line.
 */
object ManifestBench {

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def rm(p: String): Unit = LogStore.forPath(p).deleteTree(p)

  /** Deterministic synthetic manifest: `files` entries over
    * `files / filesPerPart` partitions, id/payload stats + a bloom
    * blob per entry. */
  private def synthetic(files: Int, bloomBytes: Int): Snapshot.Manifest = {
    val rnd = new java.util.Random(42)
    val filesPerPart = 100
    val nParts = math.max(1, files / filesPerPart)
    val parts = (0 until nParts).map { p =>
      val entries = (0 until math.min(filesPerPart, files - p * filesPerPart))
        .map { j =>
          val lo = (p.toLong * filesPerPart + j) * 1000
          val bloom = new Array[Byte](bloomBytes)
          rnd.nextBytes(bloom)
          // a valid header over random bits: bloom-checking prunes
          // (the IN conjunct) deserialize it
          java.nio.ByteBuffer.wrap(bloom).putInt((bloomBytes - 8) * 8).putInt(6)
          Snapshot.FileEntry(
            f"files/c00000001/__part=p$p%05d/part-$j%05d.parquet",
            rows = 1000,
            stats = Map(
              "id" -> Snapshot.ColStats("num", Some(lo.toString),
                Some((lo + 999).toString), 0, Some((lo * 1000).toString)),
              "payload" -> Snapshot.ColStats("str", Some(s"pay_$lo"),
                Some(s"pay_${lo + 999}"), 3)),
            blooms = Map("id" -> bloom),
            bytes = 64L << 20)
        }
      f"p$p%05d" -> entries.toSeq
    }.toMap
    Snapshot.Manifest(1, 0, "create", Seq("id"), Seq("part"),
      Seq("id", "payload"), parts,
      schemaDdl = "id BIGINT,payload STRING,part STRING",
      bloomCols = Seq("id"), bloomBits = bloomBytes * 8)
  }

  private def run(files: Int, mode: String, bloomBytes: Int): String = {
    val thresholdKey = "graft.manifest.segmentThreshold"
    sys.props(thresholdKey) =
      if (mode == "seg") "512" else Int.MaxValue.toString
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_manifestbench_${mode}_$files"
    rm(t)
    val st = LogStore.forPath(t)
    val m1 = synthetic(files, bloomBytes)

    val (_, commitFull) = timed(Snapshot.writeManifest(t, m1))
    val bytesFull = st.sizeTree(s"$t/_log")

    // the everyday shape: parse the parent, touch ONE partition, commit
    Snapshot.clearManifestCache()
    val parsed = Snapshot.readManifest(t, 1)
    val touchedKey = parsed.partitions.keys.min
    val touched = parsed.partitions(touchedKey)
      .map(e => e.copy(path = e.path.replace("/c00000001/", "/c00000002/")))
    val m2 = parsed.copy(version = 2, parent = 1,
      op = "merge", partitions = parsed.partitions + (touchedKey -> touched))
    val (_, commitTouch1) = timed(Snapshot.writeManifest(t, m2))
    val bytesTouch1 = st.sizeTree(s"$t/_log") - bytesFull

    Snapshot.clearManifestCache()
    val (_, parseCold) = timed(Snapshot.readManifest(t, 2))
    val (_, readMemo) = timed(Snapshot.readManifest(t, 2))
    val (_, pruneWall) = timed(Snapshot.prune(t,
      Seq(Snapshot.BoundPred("id", Some((files.toLong / 2) * 1000), None)), 2))
    // three conjuncts in one pass: an open bound on id, a partition
    // range and a 20-value IN list (stats + bloom per value)
    val nParts = parsed.partitions.size
    val three = Seq(
      Snapshot.BoundPred("id", Some((files.toLong / 2) * 1000), None),
      Snapshot.RangePred("part", f"p${nParts / 4}%05d", f"p${3 * nParts / 4}%05d"),
      Snapshot.InPred("id", (0 until 20).map(k =>
        (files.toLong / 2 + k * files / 40) * 1000 + 5)))
    val ((kept3, _), prune3Wall) = timed(Snapshot.prune(t, three, 2))

    rm(t)
    f"""{"files":$files,"mode":"$mode","bloom_bytes_per_file":$bloomBytes,""" +
      f""""commit_full_s":$commitFull%.4f,"commit_touch1_s":$commitTouch1%.4f,""" +
      f""""bytes_log":$bytesFull,"bytes_touch1":$bytesTouch1,""" +
      f""""parse_cold_s":$parseCold%.4f,"read_memo_s":$readMemo%.6f,""" +
      f""""prune_s":$pruneWall%.4f,"prune3_s":$prune3Wall%.4f,""" +
      f""""prune3_kept":${kept3.size}}"""
  }

  /** PARTITION-COUNT axis (r15, VERDICT r14 #3): segmentation bounded
    * the ENTRY payload per commit, but the manifest's segment LIST —
    * one `{seg, n}` node per partition — still rewrites wholly each
    * commit, O(partitions). Synthetic segmented manifests at many
    * partitions × small segments (2 files/partition, the
    * high-partition-count shape: a days(ts)-partitioned table at 3
    * years × hourly, a (date, region) composite): per row the
    * touch-one commit wall, the LIST's own bytes (`v*.json` — exactly
    * the per-commit rewrite mass), cold parse (N segment resolves),
    * memo re-read and a partition-prune fold. */
  private def runParts(nParts: Int, bloomBytes: Int): String = {
    sys.props("graft.manifest.segmentThreshold") = "512"
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_manifestbench_parts_$nParts"
    rm(t)
    val st = LogStore.forPath(t)
    val rnd = new java.util.Random(42)
    val filesPerPart = 2
    val parts = (0 until nParts).map { p =>
      val entries = (0 until filesPerPart).map { j =>
        val lo = (p.toLong * filesPerPart + j) * 1000
        val bloom = new Array[Byte](bloomBytes)
        rnd.nextBytes(bloom)
        Snapshot.FileEntry(
          f"files/c00000001/__part=p$p%06d/part-$j%05d.parquet",
          rows = 1000,
          stats = Map("id" -> Snapshot.ColStats("num", Some(lo.toString),
            Some((lo + 999).toString), 0, Some((lo * 1000).toString))),
          blooms = Map("id" -> bloom),
          bytes = 64L << 20)
      }
      f"p$p%06d" -> entries.toSeq
    }.toMap
    val m1 = Snapshot.Manifest(1, 0, "create", Seq("id"), Seq("part"),
      Seq("id"), parts, schemaDdl = "id BIGINT,part STRING",
      bloomCols = Seq("id"), bloomBits = bloomBytes * 8)
    val (_, commitFull) = timed(Snapshot.writeManifest(t, m1))
    Snapshot.clearManifestCache()
    val parsed = Snapshot.readManifest(t, 1)
    val touchedKey = parsed.partitions.keys.min
    val touched = parsed.partitions(touchedKey)
      .map(e => e.copy(path = e.path.replace("/c00000001/", "/c00000002/")))
    val m2 = parsed.copy(version = 2, parent = 1,
      op = "merge", partitions = parsed.partitions + (touchedKey -> touched))
    val bytesBefore = st.sizeTree(s"$t/_log")
    val (_, commitTouch1) = timed(Snapshot.writeManifest(t, m2))
    val bytesTouch1 = st.sizeTree(s"$t/_log") - bytesBefore
    val listBytes = st.size(s"$t/_log/v00000002.json")
    Snapshot.clearManifestCache()
    val (_, parseCold) = timed(Snapshot.readManifest(t, 2))
    val (_, readMemo) = timed(Snapshot.readManifest(t, 2))
    val (_, pruneWall) = timed(
      Snapshot.prune(t, Seq(Snapshot.RangePred("part",
        f"p${nParts / 2}%06d", f"p${nParts / 2 + 10}%06d")), 2))
    rm(t)
    f"""{"partitions":$nParts,"files_per_part":$filesPerPart,""" +
      f""""mode":"seg","commit_full_s":$commitFull%.4f,""" +
      f""""commit_touch1_s":$commitTouch1%.4f,"bytes_touch1":$bytesTouch1,""" +
      f""""list_bytes":$listBytes,"parse_cold_s":$parseCold%.4f,""" +
      f""""read_memo_s":$readMemo%.6f,"prune_s":$pruneWall%.4f}"""
  }

  /** REAL-table anchor: ~1k actual parquet files, DSv2 planning wall
    * cold (parse + prune + stats) vs memoized — the per-query
    * planning overhead a BI session pays. */
  private def realAnchor(spark: SparkSession): String = {
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_manifestbench_real"
    rm(t)
    val df = spark.range(0, 200000).select(
      col("id"),
      concat(lit("pay_"), col("id")).as("payload"),
      (col("id") % 10).cast("string").as("part"))
    Snapshot.create(spark, t, df, "id", "part", statsCols = Seq("id"),
      fileRanges = 1000)
    val nFiles = Snapshot.readManifest(t, 1).files.size
    def planOnce(): Unit = {
      val q = spark.read.format("graft").load(t)
        .filter(col("id") >= 100000L && col("id") <= 101000L)
        .select("id", "payload")
      q.queryExecution.executedPlan // force planning, no execution
      ()
    }
    Snapshot.clearManifestCache()
    val (_, cold) = timed(planOnce())
    val (_, warm) = timed(planOnce())
    // an unfiltered scan hands every file to the read: its file index
    // is the part of planning that grows with the table
    val (_, full) = timed(spark.read.format("graft").load(t)
      .select("id", "payload").queryExecution.executedPlan)
    rm(t)
    f"""{"real_table_files":$nFiles,"plan_cold_s":$cold%.4f,""" +
      f""""plan_memo_s":$warm%.4f,"plan_full_s":$full%.4f}"""
  }

  def main(args: Array[String]): Unit = {
    // the bench commits and immediately measures memoized reads —
    // disable the racily-fresh mtime guard (production keeps it)
    sys.props("graft.manifest.mtimeGranularityMs") = "0"
    val out = sys.env.getOrElse("SPARK_GRAFT_MANIFESTBENCH_OUT",
      "manifestbench_out.json")
    val scales = Seq(1000, 10000, 100000)
    val bloomBytes = 2048 // 16k-bit blooms: the realistic heavy entry
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for (n <- scales; mode <- Seq("inline", "seg")) {
      val line = run(n, mode, bloomBytes)
      println(line)
      lines += line
    }
    // the r15 partition-count axis: 128-byte blooms keep 100k × 2
    // entries in heap; the LIST cost under measurement is bloom-free
    for (p <- Seq(1000, 10000, 100000)) {
      val line = runParts(p, bloomBytes = 128)
      println(line)
      lines += line
    }
    sys.props -= "graft.manifest.segmentThreshold"
    val spark = graft.GraftSession.local("graft-manifest-bench")
    spark.sparkContext.setLogLevel("WARN")
    val anchor = realAnchor(spark)
    println(anchor)
    lines += anchor
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
