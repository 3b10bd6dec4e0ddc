package graft.dev

import graft.operators.Snapshot
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Measures the copy-on-write / merge-on-read DML trade on a real
 * snapshot table (SURVEY §6 evidence; writes `MORBENCH.md`):
 *
 *  - build two identical document tables;
 *  - delete the same ~1% doc_id slice from each — [[Snapshot.deleteWhere]]
 *    (rewrite candidate files) vs [[Snapshot.deleteWhereMor]] (deletion
 *    vector only);
 *  - report commit wall time and BYTES WRITTEN by each (the axis that
 *    matters at 100 TB: CoW cost ∝ candidate-file bytes, MoR cost ∝
 *    16 bytes/deleted row);
 *  - report the MoR read tax (full-scan count before/after the delete
 *    and after the materializing compact).
 */
object MorBench {
  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) return 0L
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally walk.close()
  }

  private def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("MORBENCH.md")
    val work = s"${System.getProperty("java.io.tmpdir")}/graft_morbench"
    val spark = graft.GraftSession.local("graft-mor-bench")
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.sources.Readers.table(spark, sfDir, "documents")
    val r = docs.agg(min("doc_id"), max("doc_id"), count(lit(1))).head()
    val (lo, hi, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val cutHi = lo + (hi - lo) / 100 // ~1% of the id span
    val preds = Seq(("doc_id", lo: Any, cutHi: Any))

    def build(tag: String): String = {
      val t = s"$work/$tag"
      rm(t)
      Snapshot.create(spark, t, docs, key = "doc_id",
        partitionCol = "source", statsCols = Seq("doc_id", "n_chars"),
        fileRanges = 16)
      t
    }
    def scanMedian(t: String): Double = {
      val times = (1 to 3).map { _ =>
        timed(Snapshot.readLatest(spark, t).agg(count(lit(1))).head())._2 }
      times.sorted.apply(1)
    }

    val cow = build("cow"); val mor = build("mor")
    val baseBytes = dirBytes(s"$cow/files/c00000001")
    val scan0 = scanMedian(cow)

    val (stCow, tCow) = timed(Snapshot.deleteWhere(spark, cow, preds))
    val cowBytes = dirBytes(s"$cow/files/c00000002")
    val (stMor, tMor) = timed(Snapshot.deleteWhereMor(spark, mor, preds))
    val morBytes = dirBytes(s"$mor/files/c00000002")
    val deleted = n - Snapshot.readManifest(mor, 2).logicalRows
    val scanCow = scanMedian(cow)
    val scanMor = scanMedian(mor)
    val (_, tCompact) = timed(
      Snapshot.compact(spark, mor, maxFilesPerPartition = 64))
    val scanMorC = scanMedian(mor)

    val md =
      s"""# MORBENCH — copy-on-write vs merge-on-read DML (`graft.dev.MorBench`)
         |
         |Table: `documents` at `$sfDir` ($n rows, ${baseBytes / 1024} KB data,
         |16 file ranges × source partitions). Deleted slice: `doc_id`
         |∈ [$lo, $cutHi] — $deleted rows (~${100 * deleted / math.max(1, n)}%).
         |
         || metric | copy-on-write `deleteWhere` | merge-on-read `deleteWhereMor` |
         ||---|---|---|
         || commit wall time | ${f"$tCow%.2f"} s | ${f"$tMor%.2f"} s |
         || bytes written | ${cowBytes / 1024} KB (rewrites every candidate file) | ${morBytes / 1024} KB (positions only) |
         || partitions touched | ${stCow.rewrittenPartitions.size} | ${stMor.rewrittenPartitions.size} (vector refs, 0 data files) |
         || full-scan count, before | ${f"$scan0%.3f"} s | ${f"$scan0%.3f"} s |
         || full-scan count, after | ${f"$scanCow%.3f"} s | ${f"$scanMor%.3f"} s (anti-join tax) |
         || after `compact` (materialize) | — | ${f"$scanMorC%.3f"} s (compact took ${f"$tCompact%.2f"} s) |
         |
         |Write amplification: CoW wrote ${if (morBytes > 0) cowBytes / morBytes else 0}×
         |the bytes MoR wrote for the same logical delete. The MoR read tax is the
         |anti-join against the vector (AQE broadcasts it while small) and is repaid
         |by the next compact, which drops the masked rows physically and clears the
         |vectors. Rule of thumb this measures: trickle deletes (retention nibbling,
         |erasure batches) -> MoR + periodic compact; bulk reshapes where most of a
         |file dies anyway -> CoW.
         |""".stripMargin
    Files.writeString(Paths.get(out), md)
    println(md)
    rm(work)
    spark.stop()
  }
}
