package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/**
 * Keyed MERGE/UPSERT into a hive-partitioned dataset by COPY-ON-WRITE
 * partition rewrite — the write-side companion of [[Versioning.delta]]
 * (#105): `delta` computes which documents were added/updated/removed
 * between corpus snapshots; `mergeInto` APPLIES such a change set to a
 * partitioned parquet target by rewriting ONLY the partitions that
 * contain changed keys, leaving every other partition's files
 * untouched on disk. The incremental-refresh primitive the
 * append/overwrite saveMode (reference: main.py sink handling) cannot
 * express: without it, a 2% daily corpus refresh rewrites 100 TB.
 *
 * Scale shape:
 *  - resident-partition discovery reads TWO columns of the target
 *    (key + partition — column-pruned scan), never payloads;
 *  - the rewrite reads/writes only the affected partitions
 *    (partition-pruned scan: the `isin` filter on the partition
 *    column prunes directories, asserted in MergeSpec), so IO is
 *    bounded by changed-partition bytes, not table bytes;
 *  - the only driver-side materialization is the affected partition
 *    VALUE list — bounded by the table's partition count, the same
 *    cardinality every Hive metastore round-trips;
 *  - the staging write is a dynamic partitionBy (no shuffle: rows are
 *    written per-task into their partition directories).
 *
 * Consistency: the staging write completes before any partition is
 * touched. A swap journal in the staging dir then records each
 * affected partition as rewritten or emptied, and each partition is
 * swapped by moving its old directory aside and renaming the staged
 * one in; the aside and staging dirs are deleted only after the last
 * rename ([[DirSwap]]). A merge that finds a journal on entry
 * finishes that swap before it reads the target, so rerunning a merge
 * interrupted at any point of its swap loses no rows and converges to
 * the same table.
 * Readers see old-or-new per partition except between a partition's
 * two renames, when they see neither (POSIX renames cannot close that
 * gap), and the loop is not atomic across partitions: cross-partition
 * atomicity is table-format territory ([[Snapshot]]), out of scope
 * for a plain-parquet target.
 *
 * Storage: the swap rides [[LogStore.forPath]] — a bare path keeps
 * POSIX rename semantics, a scheme-qualified target (`hdfs://…`)
 * swaps through the Hadoop store (same O(1) directory rename on
 * HDFS), so the `saveMode: merge` sink runs on the same fabrics the
 * snapshot format does. Data IO was always storage-agnostic (Spark's
 * readers/writers); this closes the swap itself.
 */
object Merge {

  /** The swap of one merge into `targetPath`: journal and staged
    * partitions in the staging dir, old partitions aside. */
  private def swapOf(store: LogStore, targetPath: String,
                     partitionCol: String): DirSwap = {
    val staging = s"$targetPath.__graft_merge_staging"
    DirSwap(store, s"$staging/_swap_journal", s"$targetPath.__graft_merge_old",
      scratch = staging, staged = p => s"$staging/$partitionCol=$p",
      live = p => s"$targetPath/$partitionCol=$p")
  }

  /** What a merge did: partition values rewritten (dirs swapped),
    * dropped (emptied by deletes), and the delta row counts. */
  final case class MergeStats(rewritten: Seq[String], dropped: Seq[String],
                              upsertRows: Long, deleteKeys: Long)

  /**
   * Apply (`upserts`, `deleteKeys`) to the dataset at `targetPath`.
   *
   * - `upserts`: full-schema rows to insert-or-replace by `key`
   *   (schema must match the target, including `partitionCol`; a key
   *   whose partition value changed is removed from its old partition
   *   and written to the new one — both partitions count as
   *   affected).
   * - `deleteKeys`: frame carrying a `key` column of keys to remove;
   *   extra columns are ignored. Keys absent from the target are
   *   no-ops. A key must not appear in both `upserts` and
   *   `deleteKeys` (checked — the outcome would be order-dependent).
   * - duplicate keys in `upserts` are NOT checked, unlike
   *   [[Snapshot.merge]]: every upsert row is written, so two rows
   *   with one key both land in the target.
   * - target partitioning is single-column hive layout
   *   (`partitionCol=value` directories), the layout
   *   `DataFrameWriter.partitionBy` produces. Null partition values
   *   are rejected (hive's default-partition escape is a trap, not a
   *   feature, for a keyed table).
   */
  def mergeInto(spark: SparkSession, targetPath: String,
                upserts: DataFrame, deleteKeys: DataFrame,
                key: String, partitionCol: String,
                format: String = "parquet"): MergeStats = {
    val store = LogStore.forPath(targetPath)
    val swap = swapOf(store, targetPath, partitionCol)
    swap.rollForward()
    val target = spark.read.format(format).load(targetPath)
    require(target.columns.contains(partitionCol),
      s"target at $targetPath has no partition column '$partitionCol' " +
        s"(columns: ${target.columns.mkString(",")})")
    require(upserts.columns.sorted.sameElements(target.columns.sorted),
      s"upserts schema ${upserts.columns.sorted.mkString(",")} must match " +
        s"target ${target.columns.sorted.mkString(",")}")

    // one cached pass over each delta frame; they are read twice
    // (affected-partition discovery + the rewrite itself)
    val ups = OpCache.cache(upserts)
    val dels = OpCache.cache(deleteKeys.select(col(key)).distinct())
    // ALL the pre-flight guards in ONE job (opt guide §5 — the driver
    // round-trips, not the data volume, bound a small merge; this was
    // 4 separate actions: two counts, an overlap probe join, a null
    // scan). One key-grouped aggregate over the unioned delta frames
    // (delta-sized, two-level — no countDistinct Expand) yields row
    // counts, upsert∩delete overlap (per-key flags; NULL keys excluded,
    // matching the join semantics the old probe had), and the NULL-
    // partition count.
    val probe = ups.select(col(key).as("__k"),
        col(partitionCol).isNull.as("__pn"), lit(1L).as("__u"))
      .unionByName(dels.select(col(key).as("__k"),
        lit(false).as("__pn"), lit(0L).as("__u")))
      .groupBy("__k").agg(
        sum(col("__u")).as("nu"),
        sum(lit(1L) - col("__u")).as("nd"),
        sum(when(col("__pn"), 1L).otherwise(0L)).as("np"))
      .agg(
        coalesce(sum(col("nu")), lit(0L)).as("upsert_rows"),
        coalesce(sum(col("nd")), lit(0L)).as("delete_rows"),
        coalesce(sum(when(col("__k").isNotNull &&
          col("nu") > 0 && col("nd") > 0, 1L).otherwise(0L)), lit(0L))
          .as("overlap_keys"),
        coalesce(sum(col("np")), lit(0L)).as("null_parts"))
      .head()
    val upsertRows = probe.getLong(0)
    val deleteRows = probe.getLong(1)
    require(probe.getLong(2) == 0,
      s"merge: key(s) present in BOTH upserts and deleteKeys — remove the " +
        "ambiguity upstream (an upsert of a deleted key is order-dependent)")
    require(probe.getLong(3) == 0,
      s"merge: upserts carry NULL '$partitionCol' values")

    // affected partitions = partitions the incoming rows land in ∪
    // partitions where any changed key currently resides (two-column
    // scan of the target; covers moved keys' OLD partitions and every
    // delete's partition)
    val allKeys = OpCache.cache(
      ups.select(col(key)).unionByName(dels).distinct())
    val resident = target.select(col(key), col(partitionCol))
      .filter(col(partitionCol).isNotNull) // hive default-partition rows: unsupported, see docs
      .join(allKeys, Seq(key), "left_semi")
      .select(col(partitionCol).cast("string"))
    val incoming = ups.select(col(partitionCol).cast("string"))
    val affected = resident.unionByName(incoming).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // partition values become directory names in the swap; values that
    // hive would URL-escape ('=', '/', '%', ...) are rejected rather
    // than silently mismatching the escaped dir name
    affected.find(!_.matches("[A-Za-z0-9._-]+")).foreach(p =>
      throw new IllegalArgumentException(
        s"merge: partition value '$p' needs hive escaping — unsupported"))
    if (affected.isEmpty) return MergeStats(Nil, Nil, 0L, deleteRows)

    // copy-on-write: survivors of the affected partitions + upserts,
    // staged beside the target then swapped in per partition
    val survivors = target
      .filter(col(partitionCol).cast("string").isin(affected: _*))
      .join(allKeys, Seq(key), "left_anti")
    val merged = survivors.unionByName(ups.select(target.columns.map(col): _*))
    store.deleteTree(swap.scratch) // no journal: an unfinished staging write
    merged.write.mode("overwrite").format(format)
      .partitionBy(partitionCol).save(swap.scratch)

    // partitions with no staged dir had every row deleted
    val (rewritten, dropped) = affected.partition(p => store.exists(swap.staged(p)))
    swap.journalAndMove(rewritten.map(true -> _) ++ dropped.map(false -> _))
    swap.clear()
    Seq(ups, dels, allKeys).foreach(OpCache.unpersistEager)
    MergeStats(rewritten, dropped, upsertRows, deleteRows)
  }
}
