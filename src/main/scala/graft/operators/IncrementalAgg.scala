package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/**
 * INCREMENTAL AGGREGATE MAINTENANCE — keep a grouped-aggregate table
 * (a materialized view: per-group row count + decimal sums) current
 * under a corpus change set WITHOUT rescanning the corpus. The
 * read-side companion of the merge family: [[Versioning.delta]] says
 * WHICH documents changed, [[Merge.mergeInto]] applies them to the
 * serving table, and `maintain` applies the same change set to every
 * downstream aggregate — per-source token totals, per-language doc
 * counts, per-domain quality sums — as delta-sized work. Without it,
 * a 2% daily refresh re-aggregates 100 TB to update a KB-sized table.
 *
 * Only ALGEBRAIC aggregates are maintainable under deletes: count and
 * sum admit an inverse (subtract the departing rows), so the table
 * carries `n` + one decimal sum per tracked column, and avg is a
 * projection (`sum/n`) at read time. min/max are NOT maintainable
 * (removing the current minimum needs the corpus to find the next
 * one) — by construction this operator doesn't offer them; run the
 * full groupBy when you need holistic aggregates.
 *
 * Exactness: sums accumulate as decimal(38,6), so maintenance is
 * associative and ORDER-FREE — N deltas applied in any grouping equal
 * the one-shot recompute bit-for-bit (spec-asserted), the property
 * float sums lack.
 *
 * Scale shape: both delta frames aggregate map-side to group
 * cardinality before touching the table; the rewrite joins
 * group-cardinality frames (a full outer join on the group keys —
 * KB-to-MB-sized at any corpus size). The table itself rewrites
 * atomically via staging-dir swap (readers see old-or-new, never a
 * torn table; same consistency story as [[Merge]]).
 *
 * A maintain that throws has applied nothing: its swap is journaled
 * ([[DirSwap]]), and the next `maintain` or [[exists]] on the table
 * rolls an interrupted swap back, so rerunning the change set applies
 * it exactly once.
 */
object IncrementalAgg {
  private lazy val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.operators.IncrementalAgg")

  /** The swap of one maintain: the new table staged beside `aggPath`,
    * the old one moved aside, the journal next to both. */
  private def swapOf(aggPath: String): DirSwap = {
    val staging = s"$aggPath.__graft_agg_staging"
    DirSwap(LogStore.forPath(aggPath), s"$aggPath.__graft_agg_journal",
      s"$aggPath.__graft_agg_old", scratch = staging,
      staged = _ => staging, live = _ => aggPath)
  }

  /** Whether an aggregate table is at `aggPath` — a dir holding data
    * files — once a maintain interrupted mid-swap is rolled back (it
    * may have left the table moved aside). */
  private[graft] def exists(aggPath: String): Boolean = {
    swapOf(aggPath).rollBack()
    LogStore.forPath(aggPath).list(aggPath)
      .exists { case (n, _) => !n.startsWith(".") && !n.startsWith("_") }
  }

  /** Column names the maintained table uses: `n` plus `sum_<col>` for
    * each tracked numeric column. */
  def sumCol(c: String): String = s"sum_$c"

  private val SumType = "decimal(38,6)"

  /** One-shot build of the aggregate table from a full corpus scan:
    * (groupCols*, n, sum_<c>*). The recompute `maintain` makes
    * unnecessary — run once at bootstrap. Sums canonicalize
    * null-to-zero (an all-null group reads 0), so the built table and
    * any maintained successor agree bit-for-bit. */
  def build(corpus: DataFrame, groupCols: Seq[String],
            sumCols: Seq[String]): DataFrame =
    corpus.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map(c =>
          coalesce(sum(col(c).cast(SumType)), lit(0))
            .cast(SumType).as(sumCol(c))): _*)

  /**
   * Apply one change set to the aggregate table at `aggPath`:
   * `removedRows` are the OLD versions of updated/removed corpus rows
   * (their contribution is subtracted), `addedRows` the NEW versions
   * of updated/added rows. Both carry the corpus schema (at least the
   * group + sum columns). Obtain them delta-sized: semi-join the two
   * snapshots against [[Versioning.delta]]'s changed ids — shuffle
   * bounded by changed mass, never corpus mass.
   *
   * Groups whose maintained count reaches zero are dropped (a group
   * exists iff it has rows). A group appearing only in the deltas is
   * created. Application is NOT idempotent (applying the same change
   * set twice double-counts — algebra, not a bug): drive it from an
   * exactly-once context, such as the scheduler, or a caller that
   * records which change sets it has applied.
   */
  def maintain(spark: SparkSession, aggPath: String, groupCols: Seq[String],
               sumCols: Seq[String], removedRows: DataFrame,
               addedRows: DataFrame): Unit = {
    val swap = swapOf(aggPath)
    swap.rollBack()
    val current = spark.read.parquet(aggPath)
    val sumNames = sumCols.map(sumCol)
    val expect = (groupCols ++ Seq("n") ++ sumNames).sorted
    require(current.columns.sorted.sameElements(expect),
      s"aggregate table at $aggPath has columns " +
        s"${current.columns.sorted.mkString(",")}, expected ${expect.mkString(",")}")

    val neg = build(removedRows, groupCols, sumCols)
      .select(groupCols.map(col) ++
        ((col("n") * -1).as("n") +: sumNames.map(c => (col(c) * -1).as(c))): _*)
    val pos = build(addedRows, groupCols, sumCols)
    val delta = neg.unionByName(pos)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sumNames.map(c => sum(col(c)).cast(SumType).as(c)): _*)

    def z(c: Column): Column = coalesce(c, lit(0))
    val merged = current.as("a")
      .join(delta.as("d"), groupCols, "full_outer")
      .select(groupCols.map(col) ++ Seq(
        (z(col("a.n")) + z(col("d.n"))).as("n")) ++
        sumNames.map(c =>
          (z(col(s"a.$c")) + z(col(s"d.$c"))).cast(SumType).as(c)): _*)
      .filter(col("n") > 0)

    // swap: readers see the old or the new table, never a mix
    // (directory renames through the table's LogStore — POSIX for
    // bare paths, Hadoop FS for scheme-qualified ones, the same
    // old-out/new-in two-step either way). Deleting the journal
    // commits; a failed cleanup after that must not throw, or a rerun
    // would apply the change set twice — the next rollBack clears it.
    merged.write.mode("overwrite").parquet(swap.scratch)
    swap.journalAndMove(Seq(true -> "table"))
    swap.store.delete(swap.journal)
    try swap.clear()
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"aggregate table $aggPath maintained; cleanup left for the next " +
          s"maintain (${e.getMessage})")
    }
  }
}
