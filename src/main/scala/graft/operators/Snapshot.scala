package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Versioned snapshot table — a manifest-committed table format over
 * plain parquet: every commit (create / merge / rollback) writes its
 * data files ONCE, immutably, and publishes an atomic per-version
 * manifest listing the live files, so the table supports
 *
 *  - **time travel**: `readAt(v)` serves any retained version —
 *    commits never touch earlier versions' files;
 *  - **cross-partition atomic commits**: readers resolve ONE manifest,
 *    so they see a whole commit or none of it (the gap
 *    [[Merge.mergeInto]]'s per-partition directory swap documents as
 *    out of scope for plain-parquet layouts);
 *  - **rollback**: publish a new version whose file list IS an old
 *    version's — an O(manifest) undo that rewrites zero data;
 *  - **vacuum**: delete files unreferenced by retained versions;
 *  - **data skipping**: the manifest carries per-file min/max/null
 *    stats for declared columns, so `read` hands Spark only the
 *    files whose ranges admit the predicate — pruning happens before
 *    the scan is planned, the lakehouse-format move (Delta/Iceberg
 *    file skipping) that parquet footer pruning alone cannot express
 *    (footers still require opening every file).
 *
 * Scale shape (100 TB): a merge commit writes only changed-partition
 * bytes (copy-on-write at partition granularity, same discovery scan
 * as [[Merge.mergeInto]] — key+partition columns only). Manifest
 * METADATA scales the same way: past a threshold the manifest becomes
 * a SEGMENT LIST over immutable per-partition `_log/seg/` files
 * (unchanged partitions carry forward by reference — commit metadata
 * IO is O(changed partitions + list), not O(live files); measured in
 * `dev.ManifestBench`: touch-one-partition at 100k files 324 MB →
 * 392 KB), and parsed manifests MEMOIZE per immutable
 * (table, version), so planning passes after the first cost two
 * metadata calls, not a re-parse. Reads open zero data files before
 * pruning (the manifest replaces the file listing AND the footer
 * pass).
 *
 * Layout:
 * {{{
 *   table/_log/v00000001.json      one manifest per version (atomic rename)
 *   table/_log/seg/<name>.json     immutable per-partition SEGMENTS (large
 *                                  tables: the manifest is a segment list;
 *                                  unchanged partitions carry by reference)
 *   table/_log/_commit.lock        writer mutual exclusion (atomic create)
 *   table/files/c00000001/__part=<value>/part-*.parquet
 * }}}
 * Data files keep the partition column as a REAL column (the hive dir
 * name is a shadow copy `__part`), so a version is readable as a bare
 * parquet file list with no partition-inference coupling.
 *
 * Reference: this generalizes the reference's append/overwrite sink
 * (main.py saveMode) the same way [[Merge.mergeInto]] does, adding the
 * versioned-commit layer on top.
 */
object Snapshot {

  private val mapper = new ObjectMapper()

  /** Per-file statistics for one tracked column. `kind` is "num"
    * (compared as BigDecimal) or "str" (compared lexicographically);
    * min/max are null-safe renderings (null = all-null file). `sum`
    * is tracked for INTEGRAL columns only (byte/short/int/long —
    * where per-file sums fold associatively and exactly; float/double
    * addition is order-dependent, so a folded sum could not promise
    * scan equality) and feeds [[aggStats]]'s manifest-only SUM. */
  final case class ColStats(kind: String, min: Option[String],
                            max: Option[String], nulls: Long,
                            sum: Option[String] = None)

  /** A DELETION VECTOR reference: `path` is a parquet directory
    * (relative to the table root) of `(file: string, pos: long)` rows
    * naming deleted row positions; `rows` is how many of them belong
    * to the referencing file. Written by [[deleteWhereMor]]
    * (merge-on-read DML: mark rows deleted WITHOUT rewriting data
    * files); applied by every read; materialized away by [[compact]].
    * Positions only ever accumulate for a given data file (un-delete
    * is a rollback to an earlier version), so a union of referenced
    * vector dirs is always safe to apply. */
  final case class DvRef(path: String, rows: Long)

  /** One immutable data file of a version: path relative to the table
    * root, its PHYSICAL row count, per-column stats, (when the table
    * declares `bloomCols`) a serialized [[graft.functions.BloomExprs]]
    * filter per bloom column — the point-lookup existence index — and
    * the optional deletion vector masking rows a merge-on-read DELETE
    * removed (logical rows = `rows - dv.rows`). `bytes` is the file's
    * on-disk size, captured at commit time from `_metadata.file_size`
    * (zero extra filesystem calls) so PLANNING-time size estimates
    * and every read's file index ([[ManifestFileIndex]]) come from the
    * manifest instead of stat-ing every file — at 100k files on an
    * object store that walk would be 100k metadata round-trips per
    * read. 0 = legacy manifest predating the field (readers stat
    * those files). */
  final case class FileEntry(path: String, rows: Long,
                             stats: Map[String, ColStats],
                             blooms: Map[String, Array[Byte]] = Map.empty,
                             dv: Option[DvRef] = None,
                             hlls: Map[String, Array[Byte]] = Map.empty,
                             bytes: Long = 0L)

  /** How commit data is arranged into files. `fileRanges = 0` writes
    * with no extra shuffle; > 0 range-partitions into that many file
    * ranges — `mode = "range"` on (partition, key) for single-key
    * skipping, `mode = "zorder"` on the Morton interleave of
    * `zorderKeys` ([[Scale.zOrderKey]]) so per-file min/max stats are
    * narrow on EVERY layout key at once (multi-column [[prune]]).
    * Declared once at create; every later commit (merge, compact)
    * reuses it from the manifest — layout is a TABLE property, not a
    * per-writer choice. */
  final case class Layout(fileRanges: Int = 0, mode: String = "range",
                          zorderKeys: Seq[String] = Nil)

  /** A SEGMENT provenance record: `path` is the `_log`-relative
    * segment file one partition's entries were parsed from, `entries`
    * the exact parsed instance — [[writeManifest]] reuses the segment
    * BY REFERENCE when a commit carries the partition forward
    * unchanged (instance identity first, deep equality as the
    * fallback for commit paths that rebuild their maps), so an
    * untouched partition costs a segmented commit zero serialization
    * and zero IO. */
  final case class Segment(path: String, entries: Seq[FileEntry])

  /** A LIST-SHARD provenance record (the r15 high-partition-count
    * bound): past [[listShardThreshold]] partitions the manifest's
    * per-partition `{seg, n}` list — which would otherwise rewrite
    * wholly each commit, O(partitions) — splits into hash-bucketed
    * immutable `_log/seg/ls-*` shard files; the manifest holds one
    * node per SHARD (O(√partitions) with the bucket sizing below).
    * `content` maps each partition in the bucket to its (segment
    * path, entry count); a commit reuses the parent's shard by
    * reference when the bucket's content is unchanged, so a
    * touch-one-partition commit writes one segment + one shard + a
    * shard list, never the partition list. */
  final case class ListShard(path: String, content: Map[String, (String, Int)])

  /** One column of a (possibly composite) PARTITION SPEC. Identity is
    * the classic value-per-directory layout; the rest are HIDDEN
    * partitioning (the Iceberg transform move): the table partitions
    * by a DERIVED value — the UTC time grain (`years`/`months`/`days`/
    * `hours` of a timestamp), a stable hash bucket, a width-truncated
    * prefix — while queries keep filtering the SOURCE column;
    * prune-time the predicate maps into the derived domain (the time
    * grains and `truncate` are monotone, so ranges map; bucket maps
    * equality/IN), so a time-range query on a days-partitioned table
    * touches only its days' files without the user ever materializing
    * a date column. */
  sealed trait PartField {
    /** The DATA column the partition value derives from. */
    def source: String
    /** The manifest rendering ("region", "days(ts)", "bucket(16,id)"). */
    def spec: String
    /** The derived partition value as a STRING column (what `__part`
      * stores and the manifest keys entries by). `owner` carries the
      * schema for the one type-dispatched transform (`truncate`). */
    def valueCol(owner: DataFrame): Column
  }
  /** Marker for the UTC time-grain transforms — they share the
    * monotone prune mapping ([[timeKeyOf]]) and the session-UTC gate
    * ([[partValueCol]]). `pattern` is BOTH the write-side date_format
    * and the driver-side DateTimeFormatter pattern: hive-safe
    * renderings whose equal width makes ISO prefixes compare
    * lexicographically like the instants they truncate. */
  sealed trait TimeField extends PartField {
    def pattern: String
    def valueCol(owner: DataFrame): Column = date_format(col(source), pattern)
  }
  final case class IdentityField(source: String) extends PartField {
    def spec: String = source
    def valueCol(owner: DataFrame): Column = col(source).cast("string")
  }
  final case class YearsField(source: String) extends TimeField {
    def spec: String = s"years($source)"
    def pattern: String = "yyyy"
  }
  final case class MonthsField(source: String) extends TimeField {
    def spec: String = s"months($source)"
    def pattern: String = "yyyy-MM"
  }
  final case class DaysField(source: String) extends TimeField {
    def spec: String = s"days($source)"
    // session TZ is pinned UTC project-wide, so the derived day is the
    // UTC day — the same day [[timeKeyOf]] computes driver-side at prune
    def pattern: String = "yyyy-MM-dd"
  }
  final case class HoursField(source: String) extends TimeField {
    def spec: String = s"hours($source)"
    // the Iceberg hour rendering — '-' not ':' keeps it hive-safe
    def pattern: String = "yyyy-MM-dd-HH"
  }
  final case class BucketField(n: Int, source: String) extends PartField {
    require(n > 0, s"bucket transform needs a positive bucket count, got $n")
    def spec: String = s"bucket($n,$source)"
    // crc32 over the value's string rendering: bit-stable across JVMs
    // and replayable driver-side ([[bucketOf]]) for prune mapping
    def valueCol(owner: DataFrame): Column =
      pmod(crc32(col(source).cast("string")), lit(n.toLong))
        .cast("int").cast("string")
  }
  /** Iceberg `truncate[W]`: strings keep their first `n` CODE POINTS
    * (Spark's `substring` character unit), integrals floor to the
    * containing width-`n` interval (`v - floorMod(v, n)`) — both
    * MONOTONE, so range predicates on the source map to ranges over
    * the derived values ([[truncOf]]). */
  final case class TruncateField(n: Int, source: String) extends PartField {
    require(n > 0, s"truncate transform needs a positive width, got $n")
    def spec: String = s"truncate($n,$source)"
    def valueCol(owner: DataFrame): Column =
      owner.schema(source).dataType match {
        case _: StringType => substring(col(source), 1, n)
        case _ => (col(source) - pmod(col(source), lit(n.toLong))).cast("string")
      }
  }
  object PartField {
    private val TimeRe = """(years|months|days|hours)\(([A-Za-z0-9_.]+)\)""".r
    private val BucketRe = """bucket\((\d+),\s*([A-Za-z0-9_.]+)\)""".r
    private val TruncRe = """truncate\((\d+),\s*([A-Za-z0-9_.]+)\)""".r
    def parse(spec: String): PartField = spec match {
      case TimeRe("years", src) => YearsField(src)
      case TimeRe("months", src) => MonthsField(src)
      case TimeRe("days", src) => DaysField(src)
      case TimeRe("hours", src) => HoursField(src)
      case BucketRe(n, src) => BucketField(n.toInt, src)
      case TruncRe(n, src) => TruncateField(n.toInt, src)
      case plain => IdentityField(plain)
    }
    /** Split a comma-separated SPEC LIST at paren depth 0 — the one
      * grammar every string-typed surface (TBLPROPERTIES, CALL args,
      * CLI, sink options) parses, so `bucket(8,id),region` yields
      * two specs, not three fragments. Trims and drops empties.
      * Unbalanced parens REFUSE loudly — a depth underflow would
      * otherwise yield a garbage identity fragment whose downstream
      * error ("no column 'a)'") hides the real grammar mistake. */
    def splitSpecs(s: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var depth = 0
      def unbalanced(): Nothing = throw new IllegalArgumentException(
        s"unbalanced parens in partition spec '$s'")
      s.foreach {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; if (depth < 0) unbalanced(); cur += ')'
        case ',' if depth == 0 =>
          if (cur.toString.trim.nonEmpty) out += cur.toString.trim
          cur.clear()
        case c => cur += c
      }
      if (depth != 0) unbalanced()
      if (cur.toString.trim.nonEmpty) out += cur.toString.trim
      out.result()
    }
  }

  /** Driver-side replay of [[BucketField.valueCol]]: crc32 of the
    * value's rendering, mod n — restricted to string/integral sources
    * (create validates), whose `cast("string")` rendering equals
    * `toString`. */
  private[graft] def bucketOf(n: Int, v: Any): String = {
    val crc = new java.util.zip.CRC32()
    crc.update(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (crc.getValue % n).toString // getValue is unsigned-32 in a long: non-negative
  }

  /** Is `v` a RUNTIME type whose `toString` matches the write-side
    * `cast("string")` rendering of a bucket source column? Create
    * restricts sources to string/integral, but a LOOKUP value of a
    * different type (a Double 7.0 against a BIGINT source renders
    * "7.0" vs "7") would hash into the WRONG bucket and silently drop
    * the matching files — so the prune maps through the hash only for
    * these types and keeps everything otherwise (conservative, like
    * every unmappable bound). */
  private[graft] def bucketReplayable(v: Any): Boolean = v match {
    case _: String | _: java.lang.Byte | _: java.lang.Short |
         _: java.lang.Integer | _: java.lang.Long => true
    case _ => false
  }

  /** Driver-side replay of a [[TimeField]]'s `valueCol`: the UTC
    * rendering of a timestamp/date bound at the field's grain. None =
    * not mappable (prune keeps all). A date bound renders at midnight
    * UTC — the instant Spark's date→timestamp cast compares it as. */
  private[graft] def timeKeyOf(f: TimeField, v: Any): Option[String] = {
    val utc = java.time.ZoneOffset.UTC
    val fmt = java.time.format.DateTimeFormatter.ofPattern(f.pattern)
    val zdt: Option[java.time.ZonedDateTime] = v match {
      case t: java.sql.Timestamp => Some(t.toInstant.atZone(utc))
      case i: java.time.Instant => Some(i.atZone(utc))
      case d: java.time.LocalDate => Some(d.atStartOfDay(utc))
      case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay(utc))
      case s: String =>
        // EXACT ISO dates only — a prefix parse (s.take(10)) would map
        // any date-shaped string ("2024-01-10-backup") to that day,
        // pruning files the exact filter still needed to see
        scala.util.Try(java.time.LocalDate.parse(s).atStartOfDay(utc)).toOption
      case _ => None
    }
    zdt.map(fmt.format)
  }

  /** Driver-side replay of [[TruncateField.valueCol]]: first-n code
    * points of a string (Spark substring's character unit), floor to
    * the width-n interval for integrals. None = unmappable runtime
    * type (a Double bound against a BIGINT source renders differently
    * than the write side — keep everything, like [[bucketReplayable]]). */
  private[graft] def truncOf(n: Int, v: Any): Option[String] = v match {
    case s: String =>
      val cp = s.codePointCount(0, s.length)
      Some(if (cp <= n) s else s.substring(0, s.offsetByCodePoints(0, n)))
    case b: java.lang.Byte => Some(truncLong(n, b.longValue))
    case sh: java.lang.Short => Some(truncLong(n, sh.longValue))
    case i: java.lang.Integer => Some(truncLong(n, i.longValue))
    case l: java.lang.Long => Some(truncLong(n, l.longValue))
    case _ => None
  }
  private def truncLong(n: Int, v: Long): String =
    (v - java.lang.Math.floorMod(v, n.toLong)).toString

  /** The ONE transform/source-type compatibility check every spec
    * surface runs (create, rewrite_partitioning): time grains need a
    * timestamp/date source, bucket and truncate need string/integral —
    * the types whose `cast("string")` rendering is replayable
    * driver-side for prune mapping. */
  private[graft] def validateTransformType(f: PartField,
                                           dt: org.apache.spark.sql.types.DataType,
                                           ctx: String): Unit = f match {
    case b: BucketField => dt match {
      case _: StringType | _: ByteType | _: ShortType |
           _: IntegerType | _: LongType => ()
      case t => throw new IllegalArgumentException(
        s"$ctx: bucket(${b.source}) needs a string/integral source " +
          s"(got ${t.simpleString}) — its rendering must be " +
          "replayable driver-side for prune mapping")
    }
    case tr: TruncateField => dt match {
      case _: StringType | _: ByteType | _: ShortType |
           _: IntegerType | _: LongType => ()
      case t => throw new IllegalArgumentException(
        s"$ctx: truncate(${tr.n},${tr.source}) needs a string/integral " +
          s"source (got ${t.simpleString})")
    }
    case tf: TimeField => dt match {
      case _: TimestampType | _: DateType => ()
      case t => throw new IllegalArgumentException(
        s"$ctx: ${tf.spec} needs a timestamp/date source " +
          s"(got ${t.simpleString})")
    }
    case _: IdentityField => ()
  }

  /** A version's complete state: the live files per partition value
    * plus the table contract (keys / partition spec / stats columns /
    * layout). `keys` is the (possibly composite) merge key;
    * `partitionCols` the (possibly composite, possibly transformed)
    * partition spec — a composite partition's identity string is its
    * component values joined with `~` (values are `[A-Za-z0-9._-]+`
    * by validation, so the join is unambiguous and path-inert). Single-column
    * manifests serialize exactly as before (legacy `key` /
    * `partition_col` string fields), so every pre-composite manifest
    * parses forever and single-column tables' manifests stay
    * byte-identical. */
  final case class Manifest(version: Int, parent: Int, op: String,
                            keys: Seq[String], partitionCols: Seq[String],
                            statsCols: Seq[String],
                            partitions: Map[String, Seq[FileEntry]],
                            layout: Layout = Layout(),
                            schemaDdl: String = "",
                            constraints: Map[String, String] = Map.empty,
                            bloomCols: Seq[String] = Nil,
                            bloomBits: Int = 0, bloomK: Int = 6,
                            guards: Map[String, String] = Map.empty,
                            hllCols: Seq[String] = Nil, hllP: Int = 12,
                            expects: Seq[String] = Nil,
                            // NON-ADDITIVE schema evolution (Delta
                            // name-mode / Iceberg field-id semantics):
                            // logical column name → PHYSICAL name as
                            // stored in data files (identity entries
                            // omitted). Physical names are stable
                            // forever; renames only move the logical
                            // side, so zero data files rewrite.
                            columnMap: Map[String, String] = Map.empty,
                            // physical names of DROPPED columns —
                            // reserved so a later re-add of the same
                            // logical name can never resurrect old
                            // bytes (the re-add maps to a fresh
                            // physical name instead)
                            retiredCols: Seq[String] = Nil,
                            // SEGMENT provenance (partition → the
                            // _log-relative segment file its entries
                            // were parsed from) — carry-forward
                            // bookkeeping only, populated by
                            // readManifest on segmented manifests;
                            // never part of the logical table state
                            segRefs: Map[String, Segment] = Map.empty,
                            // LIST-SHARD provenance (bucket index →
                            // shard file + content) + the bucket
                            // count it was sharded under — same
                            // carry-forward-only role as segRefs
                            listShards: Map[Int, ListShard] = Map.empty,
                            shardBuckets: Int = 0,
                            // this COMMIT's delivered-key hull (see
                            // [[KeyBounds]]); None = unknown — every
                            // commit site sets it explicitly, since a
                            // m.copy inheriting the parent's would
                            // claim bounds the child never honored
                            delivery: Option[KeyBounds] = None) {
    /** Physical name a logical column's bytes live under. */
    def phys(logical: String): String = columnMap.getOrElse(logical, logical)
    /** The parsed partition spec. */
    def partFields: Seq[PartField] = partitionCols.map(PartField.parse)
    /** The DATA columns the partition values derive from. */
    def partSources: Seq[String] = partFields.map(_.source)
    /** Display renderings of the contract (logs, DESCRIBE, tools). */
    def keyLabel: String = keys.mkString(",")
    def partitionLabel: String = partitionCols.mkString(",")
    def files: Seq[FileEntry] = partitions.values.flatten.toSeq
    def rows: Long = files.map(_.rows).sum
    /** Visible rows: physical minus deletion-vector masked. */
    def logicalRows: Long =
      files.map(f => f.rows - f.dv.map(_.rows).getOrElse(0L)).sum
  }

  final case class CommitStats(version: Int, rewrittenPartitions: Seq[String],
                               droppedPartitions: Seq[String],
                               filesWritten: Int)

  final case class VacuumStats(filesDeleted: Int, manifestsDeleted: Int,
                               bytesFreed: Long)

  /** Thrown when a writer cannot claim the commit lock — a concurrent
    * commit is in flight. Retry after it completes. */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Thrown by [[commitStaged]] when a commit that landed between
    * [[stageMerge]]'s read version and now touched the same partitions
    * or keys (or evolved the schema) — the staged files are stale.
    * Abort the stage and recompute ([[mergeOptimistic]] does). */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a commit's incoming rows violate a table CHECK
    * constraint — the commit is rejected BEFORE anything is written,
    * so the table (and its version counter) is untouched. */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a commit violates a table-level GUARD (`min_rows`,
    * `max_shrink_pct`) — rejected at manifest-publish time, so no torn
    * version is ever visible (files a merge already staged become
    * orphans that vacuum/fsck reclaim). Rollback is exempt: an
    * explicit undo may shrink the table. */
  final class GuardViolationException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a table-level EXPECTATION suite rejects the incoming
    * commit frame — evaluated BEFORE anything is written, so a
    * rejected delivery leaves zero residue and the version counter
    * untouched. The message names every failing check with its
    * observed violation count. */
  final class ExpectationViolationException(msg: String)
    extends RuntimeException(msg)

  // ---------------------------------------------------------------- paths

  /** The metadata-IO fabric for this table's commit log — local
    * java.nio for bare paths, Hadoop FileSystem for scheme-qualified
    * URIs (see [[LogStore]]). Every manifest/lock/ref/cleanup byte
    * below goes through it, so the commit protocol deploys wherever
    * a LogStore does. */
  private def store(table: String): LogStore = LogStore.forPath(table)

  private def logDir(table: String): String = s"$table/_log"
  private def lockFile(table: String): String = s"${logDir(table)}/_commit.lock"
  private def manifestPath(table: String, v: Int): String =
    f"${logDir(table)}%s/v$v%08d.json"
  private def commitDir(table: String, v: Int): String =
    f"$table%s/files/c$v%08d"

  /** Highest committed version, or 0 for a missing/empty table. */
  def currentVersion(table: String): Int =
    store(table).list(logDir(table))
      .collect { case (s, _) if s.matches("v\\d{8}\\.json") =>
        s.substring(1, 9).toInt }
      .foldLeft(0)(math.max)

  def exists(table: String): Boolean = currentVersion(table) > 0

  // ------------------------------------------------------------- manifests

  /** Table-level GUARDS, checked on every manifest publish except
    * rollback (an explicit undo): `min_rows` — the version must keep
    * at least that many VISIBLE rows; `max_shrink_pct` — a single
    * commit may not shrink visible rows by more than that percentage
    * of the parent's. Pure manifest math (logical row counts), zero
    * IO — the "bad upstream wiped the table" circuit breaker every
    * incremental pipeline eventually wishes it had declared. */
  private def enforceGuards(table: String, m: Manifest): Unit = {
    if (m.guards.isEmpty || m.op.startsWith("rollback")) return
    val rows = m.logicalRows
    m.guards.get("min_rows").map(_.toLong).foreach { lo =>
      if (rows < lo) throw new GuardViolationException(
        s"snapshot $table: guard min_rows=$lo rejected ${m.op} v${m.version} " +
          s"($rows visible rows)")
    }
    m.guards.get("max_shrink_pct").map(_.toLong).foreach { pct =>
      if (m.parent > 0 && store(table).exists(manifestPath(table, m.parent))) {
        val old = readManifest(table, m.parent).logicalRows
        if (old > 0 && (old - rows) * 100L > pct * old)
          throw new GuardViolationException(
            s"snapshot $table: guard max_shrink_pct=$pct rejected ${m.op} " +
              s"v${m.version} ($old -> $rows visible rows)")
      }
    }
  }

  /** Publish via [[writeManifest]]; if a GUARD rejects the commit,
    * reclaim its freshly written commit directory first (this writer
    * holds the commit lock, so the directory is exclusively its own —
    * deleting it frees the version number for the next attempt
    * instead of leaving a colliding orphan). */
  private def writeManifestReclaiming(table: String, m: Manifest): Unit =
    try writeManifest(table, m)
    catch {
      case e: GuardViolationException =>
        store(table).deleteTree(commitDir(table, m.version))
        throw e
    }

  private[graft] def writeManifest(table: String, m: Manifest): Unit = {
    enforceGuards(table, m)
    val root = mapper.createObjectNode()
    root.put("version", m.version); root.put("parent", m.parent)
    // wall-clock commit instant — the `timestampAsOf` axis; purely
    // informational for correctness (versions are the ordering)
    root.put("committed_at", System.currentTimeMillis())
    root.put("op", m.op)
    // single-column contracts keep the legacy scalar fields (manifests
    // stay byte-identical with every pre-composite version); composite
    // contracts write the array forms
    if (m.keys.size == 1) root.put("key", m.keys.head)
    else { val ka = root.putArray("keys"); m.keys.foreach(ka.add) }
    if (m.partitionCols.size == 1) root.put("partition_col", m.partitionCols.head)
    else { val pa = root.putArray("partition_cols"); m.partitionCols.foreach(pa.add) }
    val sc = root.putArray("stats_cols"); m.statsCols.foreach(sc.add)
    val lo = root.putObject("layout")
    lo.put("file_ranges", m.layout.fileRanges); lo.put("mode", m.layout.mode)
    val lk = lo.putArray("zorder_keys"); m.layout.zorderKeys.foreach(lk.add)
    root.put("schema_ddl", m.schemaDdl)
    val cons = root.putObject("constraints")
    m.constraints.toSeq.sortBy(_._1).foreach { case (n, e) => cons.put(n, e) }
    if (m.guards.nonEmpty) {
      val gu = root.putObject("guards")
      m.guards.toSeq.sortBy(_._1).foreach { case (n, e) => gu.put(n, e) }
    }
    if (m.expects.nonEmpty) {
      val ex = root.putArray("expects")
      m.expects.foreach(ex.add)
    }
    val bc = root.putArray("bloom_cols"); m.bloomCols.foreach(bc.add)
    root.put("bloom_bits", m.bloomBits); root.put("bloom_k", m.bloomK)
    val hc = root.putArray("hll_cols"); m.hllCols.foreach(hc.add)
    root.put("hll_p", m.hllP)
    if (m.columnMap.nonEmpty) {
      val cm = root.putObject("column_map")
      m.columnMap.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    if (m.retiredCols.nonEmpty) {
      val rc = root.putArray("retired_cols")
      m.retiredCols.foreach(rc.add)
    }
    m.delivery.foreach { kb =>
      val dn = root.putObject("delivery_bounds")
      if (!kb.empty)
        kb.bounds.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val cn = dn.putObject(c)
          cn.put("kind", cs.kind)
          cs.min.foreach(v => cn.put("min", v))
          cs.max.foreach(v => cn.put("max", v))
        }
      // empty flag renders as the EMPTY object: "this commit delivered
      // nothing that can conflict" — distinct from the field being
      // absent (unknown)
    }
    val st = store(table)
    st.mkdirs(logDir(table))
    // SEGMENTATION: past the threshold, each partition's entry array
    // moves to its own immutable `_log/seg/` file and the manifest
    // becomes a SEGMENT LIST (the Iceberg manifest-list shape) — a
    // commit then serializes and writes ONLY its changed partitions'
    // segments (unchanged partitions reuse the parent's segment by
    // reference), so commit metadata IO is O(changed partitions +
    // list), not O(live files). Below the threshold the entries stay
    // inline (one read, no extra round-trips — right for small
    // tables). Segments are written BEFORE the manifest publish (the
    // putIfAbsent below stays the single commit point); a crashed
    // writer's segments are orphans vacuum reclaims.
    val totalEntries = m.partitions.valuesIterator.map(_.size).sum
    val segmented = totalEntries > segmentThreshold
    if (!segmented) {
      val parts = root.putObject("partitions")
      m.partitions.toSeq.sortBy(_._1).foreach { case (p, files) =>
        writeEntryArray(parts.putArray(p), files) }
    } else {
      // per-partition segment refs: reuse the parent's segment when
      // the partition carries forward unchanged, else write a fresh one
      def segRefOf(p: String, files: Seq[FileEntry]): String = {
        val reuse = m.segRefs.get(p).filter(r =>
          (files eq r.entries) || entriesIdentical(files, r.entries))
        reuse.map(_.path).getOrElse {
          val arr = mapper.createArrayNode()
          writeEntryArray(arr, files)
          val name = f"seg/v${m.version}%08d-${p.hashCode & 0xffffff}%06x-" +
            java.util.UUID.randomUUID().toString.take(8) + ".json"
          st.mkdirs(s"${logDir(table)}/seg")
          st.putIfAbsent(s"${logDir(table)}/$name",
            mapper.writer().writeValueAsBytes(arr))
          name
        }
      }
      val refs = m.partitions.toSeq.sortBy(_._1).map { case (p, files) =>
        (p, segRefOf(p, files), files.size) }
      if (refs.size <= listShardThreshold) {
        // the r14 shape: one {seg, n} node per partition, inline
        val parts = root.putObject("partitions")
        refs.foreach { case (p, rel, n) =>
          val on = parts.putObject(p)
          on.put("seg", rel)
          on.put("n", n)
        }
      } else {
        // r15 SHARDED LIST: past the threshold even the segment LIST
        // is O(partitions) per commit (measured: 9.1 MB rewritten to
        // touch one of 100k partitions — the list was 100% of the
        // write). Hash-bucket the partitions into ~√-scaled immutable
        // `ls-*` shard files; a commit rewrites only buckets whose
        // content changed + this O(buckets) root list. Bucket count
        // derives from the partition count (a power of two), so it
        // only moves — forcing a one-commit full shard rewrite — when
        // the table crosses a doubling boundary.
        val b = shardBucketCount(refs.size)
        val sh = root.putObject("partition_shards")
        sh.put("n_buckets", b)
        val arr = sh.putArray("shards")
        refs.groupBy(t => shardBucket(t._1, b)).toSeq.sortBy(_._1)
          .foreach { case (bi, ps) =>
            val content = ps.map { case (p, rel, n) => p -> (rel, n) }.toMap
            val reuse = (if (m.shardBuckets == b) m.listShards.get(bi)
                         else None).filter(_.content == content)
            val rel = reuse.map(_.path).getOrElse {
              val on = mapper.createObjectNode()
              ps.sortBy(_._1).foreach { case (p, r, n) =>
                val pn = on.putObject(p)
                pn.put("seg", r)
                pn.put("n", n)
              }
              val name = f"seg/ls-v${m.version}%08d-$bi%04x-" +
                java.util.UUID.randomUUID().toString.take(8) + ".json"
              st.mkdirs(s"${logDir(table)}/seg")
              st.putIfAbsent(s"${logDir(table)}/$name",
                mapper.writer().writeValueAsBytes(on))
              name
            }
            val node = arr.addObject()
            node.put("bucket", bi)
            node.put("path", rel)
          }
      }
    }
    // the store's atomic publish IS the commit point: the manifest
    // appears whole or not at all, and an existing version refuses
    try st.putIfAbsent(manifestPath(table, m.version),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"snapshot $table: version ${m.version} already committed")
    }
    // writer-sourced memo population: this writer KNOWS the bounds it
    // just published, so in-JVM rebase walks over this version never
    // re-read the manifest (see [[deliveryMemo]])
    memoDelivery(table, m.version, m.delivery)
  }

  /** Delivery-bounds MEMO (r16, VERDICT r15 ask #4): the rebase fast
    * path walks every INTERVENING version's `delivery_bounds` under
    * the commit lock — O(intervening) root stream-parses, which on an
    * object store is ~1 RTT each (at the bench's measured depth of
    * ~95 intervening commits, seconds of lock time at 100 ms RTT).
    * Bounds are immutable once published (putIfAbsent), version
    * numbers never reuse within a table's lifetime, and the values
    * are tiny (a few column-name → min/max strings), so they memoize
    * perfectly: each version's bounds are recorded at WRITE time by
    * its own writer and at first PARSE by everyone else — a deep walk
    * is then pure map hits, flat in depth. Staleness: the one way a
    * (table, version) key can change meaning is DROP + RECREATE at
    * the same path, which [[commitStaged]] closes with ONE v1-epoch
    * stat per publish ([[validateDeliveryMemo]]) rather than a
    * per-version guard — a recreate rewrites v1, so its (mtime, size)
    * is the table-incarnation fingerprint. (Mid-stage recreate is
    * already outside the optimistic protocol's contract — it deletes
    * the staged data files themselves — so the epoch check at publish
    * is the right granularity.) A memoized entry for a VACUUMED
    * version keeps serving its true recorded bounds: strictly better
    * than the parse path's None → exact probe, and sound — vacuum
    * removes files, never rewrites history. Capacity-bounded by a
    * clear-on-overflow (entries are ~100 B; the cap is generous). */
  private val deliveryMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Option[KeyBounds]]()
  // table → (v1 stat (mtime, size) — the cheap per-publish validator,
  //          v1 identity (committed_at millis, size) — the
  //          incarnation fingerprint, read only when the stat moves)
  private val deliveryMemoEpoch = new java.util.concurrent
    .ConcurrentHashMap[String, ((Long, Long), (Long, Long))]()
  private val DeliveryMemoMaxEntries = 1 << 16

  private def memoDelivery(table: String, version: Int,
                           delivery: Option[KeyBounds]): Unit = {
    if (deliveryMemo.size() >= DeliveryMemoMaxEntries) deliveryMemo.clear()
    // normalize to the PARSE-equivalent shape so writer-sourced and
    // parse-sourced entries are indistinguishable to the consumer
    // (serialization drops nulls/sum; an empty hull renders as the
    // empty object and reads back as empty=true)
    val norm = delivery.map { kb =>
      if (kb.empty || kb.bounds.isEmpty) KeyBounds(empty = true, Map.empty)
      else KeyBounds(empty = false, kb.bounds.map { case (c, cs) =>
        c -> ColStats(cs.kind, cs.min, cs.max, 0L) })
    }
    deliveryMemo.put((table, version), norm)
  }

  /** Epoch check per publish: if the table's v1 changed incarnation
    * since this JVM last looked (the path was dropped and recreated),
    * every memoized bound for it is for a DEAD table and must go.
    * Steady-state cost is ONE stat (mtime, size) of v1: while the
    * stat matches the pinned value — and is past the coarse-mtime
    * racily-clean window — the incarnation provably did not change.
    * When the stat moves (or is fresh), the INCARNATION FINGERPRINT
    * re-reads: (committed_at millis, size), which a same-tick
    * same-size recreate cannot forge (the head stream-parse stops
    * after three fields — it never materializes the inventory, but it
    * does fetch the file, which is why it only runs on stat change).
    * An UNKNOWABLE epoch — v1 vacuumed, stat/parse failure, a legacy
    * pre-instant manifest — never trusts pre-existing entries: the
    * walk runs cold on such tables every publish (conservative; a
    * (0,0) sentinel would conflate two unknowable incarnations, which
    * is exactly how a stale disjoint-looking bound could skip the
    * probe that catches a true conflict). First validate in a JVM
    * also clears: entries recorded before any epoch pin could predate
    * an external recreate. */
  private def validateDeliveryMemo(table: String): Unit = {
    val st = store(table)
    val p1 = manifestPath(table, 1)
    def clearTable(): Unit = {
      val it = deliveryMemo.keySet.iterator()
      while (it.hasNext) if (it.next()._1 == table) it.remove()
    }
    val stat =
      try { if (st.exists(p1)) Some((st.modifiedTime(p1), st.size(p1)))
            else None }
      catch { case _: Exception => None }
    stat match {
      case None =>
        deliveryMemoEpoch.remove(table)
        clearTable()
      case Some(s) =>
        val prev = deliveryMemoEpoch.get(table)
        val statTrusted = prev != null && prev._1 == s &&
          System.currentTimeMillis() - s._1 >= mtimeGranularityMs
        if (!statTrusted) {
          val ident =
            try (committedAt(table, 1), s._2)
            catch { case _: Exception => (0L, 0L) }
          if (ident._1 == 0L) { // unreadable or pre-instant legacy
            deliveryMemoEpoch.remove(table)
            clearTable()
          } else {
            val changed = prev == null || prev._2 != ident
            deliveryMemoEpoch.put(table, (s, ident))
            if (changed) clearTable()
          }
        }
    }
  }

  /** Drop every memoized delivery bound (benchmarks measuring cold
    * walks). */
  private[graft] def clearDeliveryMemo(): Unit = {
    deliveryMemo.clear(); deliveryMemoEpoch.clear()
  }

  /** Entry count past which [[writeManifest]] segments (tunable for
    * tests/benchmarks via `graft.manifest.segmentThreshold`). */
  private def segmentThreshold: Int =
    sys.props.get("graft.manifest.segmentThreshold").map(_.toInt)
      .getOrElse(512)

  /** Partition count past which the segment LIST shards (tunable via
    * `graft.manifest.listShardThreshold`). */
  private def listShardThreshold: Int =
    sys.props.get("graft.manifest.listShardThreshold").map(_.toInt)
      .getOrElse(1024)

  /** Shard bucket count for `n` partitions: the power of two nearest
    * n/512 — ~512 partitions per shard, so both the root list (one
    * node per shard) and a shard stay small as the table grows. */
  private def shardBucketCount(n: Int): Int = {
    val want = math.max(2, n / 512)
    Integer.highestOneBit(want - 1) * 2
  }

  /** A partition's shard bucket — String.hashCode is JVM-spec-pinned,
    * so the assignment is stable across writers. */
  private def shardBucket(p: String, b: Int): Int =
    (p.hashCode & 0x7fffffff) % b

  private def writeEntryArray(arr: ArrayNode, files: Seq[FileEntry]): Unit = {
    val b64 = java.util.Base64.getEncoder
    files.sortBy(_.path).foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("rows", f.rows)
      if (f.bytes > 0) fn.put("bytes", f.bytes)
      val st = fn.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        val cn = st.putObject(c)
        cn.put("kind", cs.kind); cn.put("nulls", cs.nulls)
        cs.min.foreach(v => cn.put("min", v))
        cs.max.foreach(v => cn.put("max", v))
        cs.sum.foreach(v => cn.put("sum", v))
      }
      if (f.blooms.nonEmpty) {
        val bl = fn.putObject("blooms")
        f.blooms.toSeq.sortBy(_._1).foreach { case (c, bytes) =>
          bl.put(c, b64.encodeToString(bytes)) }
      }
      f.dv.foreach { d =>
        val dn = fn.putObject("dv")
        dn.put("path", d.path); dn.put("rows", d.rows)
      }
      if (f.hlls.nonEmpty) {
        val hl = fn.putObject("hlls")
        f.hlls.toSeq.sortBy(_._1).foreach { case (c, bytes) =>
          hl.put(c, b64.encodeToString(bytes)) }
      }
    }
  }

  /** Deep entry-list equality for segment reuse (FileEntry's own
    * equals is useless here: bloom/HLL byte arrays compare by
    * reference). Sound either way — a false NEGATIVE merely writes a
    * fresh segment; there are no false positives. */
  private def entriesIdentical(a: Seq[FileEntry], b: Seq[FileEntry]): Boolean =
    a.size == b.size && a.sortBy(_.path).zip(b.sortBy(_.path)).forall {
      case (x, y) =>
        x.path == y.path && x.rows == y.rows && x.bytes == y.bytes &&
          x.stats == y.stats && x.dv == y.dv &&
          x.blooms.keySet == y.blooms.keySet &&
          x.blooms.forall { case (c, v) =>
            java.util.Arrays.equals(v, y.blooms(c)) } &&
          x.hlls.keySet == y.hlls.keySet &&
          x.hlls.forall { case (c, v) =>
            java.util.Arrays.equals(v, y.hlls(c)) }
    }

  /** Parsed-manifest MEMO: manifests are immutable once published
    * (putIfAbsent refuses overwrite), so a parsed [[Manifest]] can be
    * reused for every later read of the same (table, version) —
    * without this, EVERY planning pass re-reads and re-parses the
    * full inventory (at 100k files with bloom blobs, a multi-MB JSON
    * per query). Entries validate by the manifest file's
    * (mtime, size) — two metadata calls instead of a parse — so a
    * table deleted and recreated at the same path (tests, reruns)
    * never serves stale state. Coarse-mtime stores (1 s local FS
    * ticks, S3 LastModified seconds) get the git-racily-clean guard:
    * a manifest is only CACHED once its mtime is older than the
    * granularity window, so a same-tick recreate can never slip in
    * behind an already-cached entry (fresh manifests simply re-parse
    * for the first 2 s of their life). Bounded LRU, access-ordered,
    * capped by ENTRY COUNT and by approximate RETAINED BYTES — a
    * 100k-file manifest with bloom blobs is ~100s of MB on-heap, and
    * a history/fsck pass over many versions must not pin the driver
    * heap. */
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Int), (Long, Long, Long, Manifest)](
      64, 0.75f, true)
  private var manifestCacheBytes: Long = 0L
  private val ManifestCacheMaxBytes: Long =
    sys.props.get("graft.manifest.cacheMaxBytes").map(_.toLong)
      .getOrElse(256L << 20)
  /** The mtime-granularity window (git's racily-clean bound) —
    * tunable for tests/benchmarks that commit and immediately
    * measure memoized reads. */
  private[graft] def mtimeGranularityMs: Long =
    sys.props.get("graft.manifest.mtimeGranularityMs").map(_.toLong)
      .getOrElse(2000L)

  /** Approximate retained heap of a parsed manifest: the blob arrays
    * dominate; ~256 B covers each entry's strings/stats boxes. */
  private def manifestWeight(m: Manifest): Long =
    m.files.iterator.map(f => 256L +
      f.blooms.valuesIterator.map(_.length.toLong).sum +
      f.hlls.valuesIterator.map(_.length.toLong).sum).sum

  /** Drop every memoized manifest (benchmarks measuring cold parses). */
  private[graft] def clearManifestCache(): Unit =
    manifestCache.synchronized {
      manifestCache.clear(); manifestCacheBytes = 0L
    }

  def readManifest(table: String, version: Int): Manifest = {
    val p = manifestPath(table, version)
    val st = store(table)
    require(st.exists(p),
      s"snapshot $table: version $version does not exist " +
        s"(current=${currentVersion(table)}; vacuumed versions are gone for good)")
    val key = (table, version)
    val (mt, sz) = (st.modifiedTime(p), st.size(p))
    manifestCache.synchronized {
      manifestCache.get(key) match {
        case (cmt, csz, _, m) if cmt == mt && csz == sz => return m
        case _ => ()
      }
    }
    val m = parseManifest(table, st, mapper.readTree(st.read(p)))
    // racily-fresh manifests are NOT cached (see scaladoc); neither is
    // a manifest heavier than the whole cache budget — putting it
    // would purge every other entry AND itself (an empty cache on
    // every read of one giant table is worse than no memo for it)
    val w = manifestWeight(m)
    if (System.currentTimeMillis() - mt >= mtimeGranularityMs &&
        w <= ManifestCacheMaxBytes)
      manifestCache.synchronized {
        Option(manifestCache.remove(key)).foreach(old =>
          manifestCacheBytes -= old._3)
        manifestCache.put(key, (mt, sz, w, m))
        manifestCacheBytes += w
        val it = manifestCache.entrySet().iterator()
        while ((manifestCache.size() > 64 ||
            manifestCacheBytes > ManifestCacheMaxBytes) && it.hasNext) {
          manifestCacheBytes -= it.next().getValue._3
          it.remove()
        }
      }
    m
  }

  private def parseEntries(n: JsonNode): Seq[FileEntry] = {
    def colStats(n: JsonNode): Map[String, ColStats] =
      n.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> ColStats(v.get("kind").asText(),
          Option(v.get("min")).map(_.asText()),
          Option(v.get("max")).map(_.asText()),
          v.get("nulls").asLong(),
          Option(v.get("sum")).map(_.asText()))
      }.toMap
    val b64 = java.util.Base64.getDecoder
    n.elements().asScala.map { fn =>
      FileEntry(fn.get("path").asText(), fn.get("rows").asLong(),
        colStats(fn.get("stats")),
        Option(fn.get("blooms")).map(_.properties().asScala.map(b =>
          b.getKey -> b64.decode(b.getValue.asText())).toMap)
          .getOrElse(Map.empty),
        Option(fn.get("dv")).map(d =>
          DvRef(d.get("path").asText(), d.get("rows").asLong())),
        Option(fn.get("hlls")).map(_.properties().asScala.map(b =>
          b.getKey -> b64.decode(b.getValue.asText())).toMap)
          .getOrElse(Map.empty),
        bytes = Option(fn.get("bytes")).map(_.asLong()).getOrElse(0L))
    }.toSeq
  }

  private def parseManifest(table: String, st: LogStore,
                            root: JsonNode): Manifest = {
    // inline partitions are arrays; a segmented partition is an
    // object {seg, n} naming its _log-relative segment file — read
    // and record the ref so a later commit can carry it forward.
    // Past the list-shard threshold the per-partition nodes live in
    // `ls-*` SHARD files named by `partition_shards` (r15): shards
    // resolve first, then every segment. Both fan out in PARALLEL
    // (common pool): a large table's cold parse is one small root +
    // B shard fetches + N independent segment fetches, and on an
    // object store N SEQUENTIAL round-trips would dominate the parse
    // (1000 segments × ~100 ms RTT ≈ 100 s serial vs a few seconds
    // fanned out). Jackson's mapper and both LogStores are
    // thread-safe; results land in concurrent maps.
    val shardNode = Option(root.get("partition_shards"))
    val shardResolved = new java.util.concurrent.ConcurrentHashMap[Int, ListShard]()
    val shardBuckets = shardNode.map(_.get("n_buckets").asInt()).getOrElse(0)
    shardNode.foreach { sn =>
      sn.get("shards").elements().asScala.toVector.asJava.parallelStream()
        .forEach { n =>
          val rel = n.get("path").asText()
          val on = mapper.readTree(st.read(s"${logDir(table)}/$rel"))
          val content = on.properties().asScala.map(e =>
            e.getKey -> (e.getValue.get("seg").asText(),
              e.getValue.get("n").asInt())).toMap
          shardResolved.put(n.get("bucket").asInt(), ListShard(rel, content))
        }
    }
    val listShards = shardResolved.asScala.toMap
    val props = Option(root.get("partitions"))
      .map(_.properties().asScala.toVector).getOrElse(Vector.empty)
    // (partition, segment rel) pairs from both shapes
    val segPairs: Vector[(String, String)] =
      props.filterNot(_.getValue.isArray)
        .map(e => e.getKey -> e.getValue.get("seg").asText()) ++
        listShards.valuesIterator.flatMap(_.content.iterator.map {
          case (p, (rel, _)) => p -> rel }).toVector
    val segResolved = new java.util.concurrent.ConcurrentHashMap[String, Segment]()
    if (segPairs.nonEmpty)
      segPairs.asJava.parallelStream().forEach { case (p, rel) =>
        val entries = parseEntries(
          mapper.readTree(st.read(s"${logDir(table)}/$rel")))
        segResolved.put(p, Segment(rel, entries))
      }
    val propKeys = props.map(_.getKey).toSet
    val parts = (props.map { e =>
      if (e.getValue.isArray) e.getKey -> parseEntries(e.getValue)
      else e.getKey -> segResolved.get(e.getKey).entries
    } ++ segPairs.collect {
      case (p, _) if !propKeys.contains(p) =>
        p -> segResolved.get(p).entries
    }).toMap
    val segRefs = segResolved.asScala.toMap
    val layout = Option(root.get("layout")).map(l =>
      Layout(l.get("file_ranges").asInt(), l.get("mode").asText(),
        l.get("zorder_keys").elements().asScala.map(_.asText()).toSeq))
      .getOrElse(Layout())
    val keys = Option(root.get("keys"))
      .map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq(root.get("key").asText()))
    val partitionCols = Option(root.get("partition_cols"))
      .map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq(root.get("partition_col").asText()))
    Manifest(root.get("version").asInt(), root.get("parent").asInt(),
      root.get("op").asText(), keys, partitionCols,
      root.get("stats_cols").elements().asScala.map(_.asText()).toSeq, parts,
      layout,
      Option(root.get("schema_ddl")).map(_.asText()).getOrElse(""),
      Option(root.get("constraints")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      Option(root.get("bloom_cols")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Nil),
      Option(root.get("bloom_bits")).map(_.asInt()).getOrElse(0),
      Option(root.get("bloom_k")).map(_.asInt()).getOrElse(6),
      Option(root.get("guards")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      Option(root.get("hll_cols")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Nil),
      Option(root.get("hll_p")).map(_.asInt()).getOrElse(12),
      Option(root.get("expects")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Nil),
      Option(root.get("column_map")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      Option(root.get("retired_cols")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Nil),
      segRefs, listShards, shardBuckets,
      Option(root.get("delivery_bounds")).map { dn =>
        val bounds = dn.properties().asScala.map { e =>
          val v = e.getValue
          e.getKey -> ColStats(v.get("kind").asText(),
            Option(v.get("min")).map(_.asText()),
            Option(v.get("max")).map(_.asText()), 0L)
        }.toMap
        KeyBounds(bounds.isEmpty, bounds)
      })
  }

  /** (version, op, parent, partitions, files, rows) per retained
    * version, oldest first — the table's commit history. `rows` is
    * the version's LOGICAL count (deletion-vector-masked rows
    * subtracted), so a merge-on-read delete shows its effect in the
    * history even though no data file changed. */
  def history(table: String): Seq[(Int, String, Int, Int, Int, Long)] = {
    val cur = currentVersion(table)
    (1 to cur).flatMap { v =>
      if (store(table).exists(manifestPath(table, v))) {
        val m = readManifest(table, v)
        Some((v, m.op, m.parent, m.partitions.size, m.files.size, m.logicalRows))
      } else None
    }
  }

  // ----------------------------------------------------------------- lock

  /** Claim the commit lock (atomic create-new). A lock older than
    * `staleMs` is presumed abandoned (crashed writer) and stolen
    * race-safely: steal = delete + re-claim, and losing the re-claim
    * race still fails closed. */
  private def withCommitLock[A](table: String, staleMs: Long = 6 * 3600 * 1000L)
                               (body: => A): A = {
    val st = store(table)
    st.mkdirs(logDir(table))
    val lf = lockFile(table)
    def claim(): Boolean = st.createNew(lf)
    val got = claim() || {
      // a missing lock means the holder RELEASED between our claim and
      // this check — re-claim without deleting (a delete here could
      // remove a lock a THIRD writer just acquired, admitting two
      // writers at once); only a genuinely old lock steals
      val age = try
        Some(System.currentTimeMillis() - st.modifiedTime(lf))
      catch { case _: java.nio.file.NoSuchFileException => None }
      age match {
        case None => claim()
        case Some(a) if a > staleMs =>
          try st.delete(lf) catch { case _: Exception => () }
          claim()
        case _ => false
      }
    }
    if (!got) throw new ConcurrentCommitException(
      s"snapshot $table: a commit is in flight (lock ${lf} held); retry later")
    try body finally st.delete(lf)
  }

  // ---------------------------------------------------------------- stats

  private[graft] def statKind(dt: DataType): Option[String] = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType => Some("num")
    case _: StringType => Some("str")
    case _ => None // stats unsupported (binary/array/...): column skipped
  }

  /** Integral columns additionally track a per-file SUM (exact,
    * order-free fold — see [[ColStats.sum]]). */
  private def sumTracked(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
    case _ => false
  }

  /** Read back a just-written data dir (a commit dir or an optimistic
    * staging dir) and compute manifest entries: per file (one
    * column-pruned scan of the NEW files only) the row count and
    * min/max/nulls of each tracked column. Entry paths are relative to
    * `dir` (the part AFTER `marker`) — callers prefix the final commit
    * location. `written` is the physical schema the commit wrote
    * ([[writeArranged]]'s result). */
  private def entriesOf(spark: SparkSession, dir: String, marker: String,
                        written: StructType,
                        statsCols: Seq[String], bloomCols: Seq[String] = Nil,
                        bloomBits: Int = 0, bloomK: Int = 6,
                        hllCols: Seq[String] = Nil,
                        hllP: Int = 12): Map[String, Seq[FileEntry]] = {
    // a delete-only commit that empties its partitions writes no
    // partition dirs at all — nothing to read, nothing to list
    val hasParts = LogStore.forPath(dir).list(dir)
      .exists { case (n, isDir) => isDir && n.startsWith("__part=") }
    if (!hasParts) return Map.empty
    // read back under the written schema with __part a STRING:
    // inference would type "007"/"010" as int 7/10 and key the
    // manifest wrong, and costs a footer job per commit
    val df = spark.read.schema(written.add("__part", StringType)).parquet(dir)
    val tracked = statsCols.flatMap(c =>
      statKind(df.schema(c).dataType).map(c -> _))
    val summed = tracked.collect {
      case (c, _) if sumTracked(df.schema(c).dataType) => c }.toSet
    // bloom SPECS ([[bloomSpec]]): bare column = value filter,
    // `3g:col` = trigram filter — same one-scan agg, different kernel
    val bloomed = if (bloomBits <= 0) Nil
      else bloomCols.flatMap { spec =>
        val (tri, c) = bloomSpec(spec)
        if (df.columns.contains(c)) Some((spec, c, tri)) else None
      }
    val hlled = hllCols.filter(df.columns.contains)
    val aggs = (count(lit(1)).as("__rows") +:
      // on-disk size from the scan's own metadata column — constant
      // per file (the group key), max() only to satisfy the agg shape
      max(col("_metadata.file_size")).as("__bytes") +:
      tracked.flatMap { case (c, _) => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
      (if (summed(c)) Seq(sum(col(c)).cast("string").as(s"__sum_$c")) else Nil)
    }) ++
      bloomed.map { case (spec, c, tri) =>
        (if (tri) graft.functions.BloomExprs
          .triBloomBuild(col(c).cast("string"), bloomBits, bloomK)
        else graft.functions.BloomExprs
          .bloomBuild(col(c).cast("string"), bloomBits, bloomK))
          .as(s"__bloom_$spec")
      } ++
      // per-file PORTABLE HLL sketch (md5-prefix hashing): register
      // max-merge is associative, so the union of per-file sketches is
      // bit-identical to a whole-table sketch - the manifest-only
      // distinct-count path of aggStats, replayable by any md5 engine
      hlled.map(c => graft.functions.HllExprs
        .hllSketch(col(c).cast("string"), hllP, portable = true).as(s"__hll_$c"))
    val rows = df.groupBy(input_file_name().as("__file"),
        col("__part").cast("string").as("__p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per data file, manifest cardinality
    // relativize via the dir marker — robust to file:/ vs file:///
    // URI renderings of the table root
    rows.groupBy(_.getAs[String]("__p")).map { case (p, fs) =>
      p -> fs.map { r =>
        val full = r.getAs[String]("__file")
        val at = full.lastIndexOf(marker)
        require(at >= 0, s"snapshot: unexpected file path $full")
        val rel = full.substring(at + marker.length)
        FileEntry(rel, r.getAs[Long]("__rows"),
          tracked.map { case (c, kind) =>
            c -> ColStats(kind,
              Option(r.getAs[String](s"__min_$c")),
              Option(r.getAs[String](s"__max_$c")),
              r.getAs[Long](s"__nulls_$c"),
              if (summed(c)) Option(r.getAs[String](s"__sum_$c")) else None)
          }.toMap,
          bloomed.map { case (spec, _, _) =>
            spec -> r.getAs[Array[Byte]](s"__bloom_$spec") }.toMap,
          None,
          hlled.map(c => c -> r.getAs[Array[Byte]](s"__hll_$c")).toMap,
          bytes = r.getAs[Long]("__bytes"))
      }.toSeq.sortBy(_.path)
    }
  }

  private def commitEntries(spark: SparkSession, table: String, v: Int,
                            written: StructType,
                            statsCols: Seq[String], bloomCols: Seq[String] = Nil,
                            bloomBits: Int = 0, bloomK: Int = 6,
                            hllCols: Seq[String] = Nil,
                            hllP: Int = 12): Map[String, Seq[FileEntry]] = {
    val prefix = f"files/c$v%08d/"
    entriesOf(spark, commitDir(table, v), s"/$prefix", written, statsCols,
        bloomCols, bloomBits, bloomK, hllCols, hllP)
      .map { case (p, fs) => p -> fs.map(f => f.copy(path = prefix + f.path)) }
  }

  /** Write `df`'s rows for this commit, arranged per the table
    * [[Layout]] — the shuffle (when any) is bounded by this COMMIT's
    * bytes, never the table's (same trade as
    * [[Scale.writeRangeLayout]]/[[Scale.writeZOrder]], applied
    * per-commit). */
  private def writeCommit(df: DataFrame, table: String, v: Int,
                          partitionCols: Seq[String], keys: Seq[String],
                          layout: Layout,
                          columnMap: Map[String, String] = Map.empty): StructType =
    writeArranged(df, commitDir(table, v), partitionCols, keys, layout, columnMap)

  /** The (possibly composite, possibly transformed) partition IDENTITY
    * as a string column: single specs are the bare derived value;
    * composite specs join component values with `~` — unambiguous
    * (values are `[A-Za-z0-9._-]+` by validation, so `~` never occurs
    * inside one) AND inert in every path layer the identity crosses:
    * `~` is a URI unreserved character and outside Hive's dir-name
    * escape set, so `__part=us~t3` round-trips through partition
    * discovery, `input_file_name()` and `spark.read` verbatim (a `/`
    * join would hive-escape to `%2F` and double-escape on re-read).
    * NB `concat_ws` skips NULLs, which would silently collapse a
    * composite identity — callers always validate non-null components
    * first ([[validatePartitionValues]]). */
  private[graft] val PartSep = "~"
  private def partValueCol(partitionCols: Seq[String],
                           owner: DataFrame): Column = {
    val fields = partitionCols.map(PartField.parse)
    // the time grains derive their UTC rendering THROUGH the session
    // time zone (date_format); the driver-side prune mapping
    // ([[timeKeyOf]]) pins UTC. A non-UTC session would write/compute
    // partition identities that disagree with the table's stored
    // values AND with pruning — silent wrong results. This is the
    // single chokepoint every derived-partition computation goes
    // through (writes, merge discovery, compact, overwrite scoping),
    // so the contract is enforced here, not per caller.
    fields.collectFirst { case tf: TimeField => tf }.foreach { tf =>
      // the conf of the session that OWNS (and will execute) the
      // frame — SparkSession.active is merely the thread's default
      // and can be a different session in a multi-session JVM
      val tz = owner.sparkSession.sessionState.conf.sessionLocalTimeZone
      require(java.time.ZoneId.of(tz).normalized() ==
          java.time.ZoneOffset.UTC.normalized(),
        s"graft: ${tf.spec.takeWhile(_ != '(')}() hidden partitioning " +
          s"requires spark.sql.session.timeZone=UTC (got '$tz') — the " +
          "stored partition values are UTC time grains and a non-UTC " +
          "session would derive different ones")
    }
    val comps = fields.map(_.valueCol(owner))
    if (comps.size == 1) comps.head else concat_ws(PartSep, comps: _*)
  }

  /** Component `i` of a partition identity string. */
  private def partComponent(m: Manifest, p: String, i: Int): String =
    if (m.partitionCols.size == 1) p else p.split(PartSep, -1)(i)

  /** Logical frame → the PHYSICAL column names data files store
    * (identity when the table has no column mapping). Every data-file
    * write funnels through this, so renamed columns' bytes always
    * land under their stable physical name regardless of which commit
    * path wrote them. */
  private def physicalize(df: DataFrame, columnMap: Map[String, String]): DataFrame =
    if (columnMap.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(columnMap.getOrElse(c, c))): _*)

  /** Write `df0` under `dir`, partitioned by `__part`; returns the
    * physical schema of the data files written. */
  private def writeArranged(df0: DataFrame, dir: String,
                            partitionCols: Seq[String], keys: Seq[String],
                            layout: Layout,
                            columnMap: Map[String, String] = Map.empty): StructType = {
    // NB: partition/key/zorder columns are barred from mapping
    // (rename/drop reject them), so the arrange columns below are
    // identity-mapped by construction
    val df = physicalize(df0, columnMap)
    val shadow = df.withColumn("__part", partValueCol(partitionCols, df))
    val arranged =
      if (layout.fileRanges <= 0) shadow
      else if (layout.mode == "zorder")
        shadow.repartitionByRange(layout.fileRanges, col("__part"),
          Scale.zOrderKey(shadow, layout.zorderKeys))
      else shadow.repartitionByRange(layout.fileRanges,
        col("__part") +: keys.map(col): _*)
    arranged.write.mode("error").partitionBy("__part").parquet(dir)
    df.schema
  }

  /** Reject the commit if any incoming row violates a table CHECK
    * constraint. SQL CHECK semantics: a NULL predicate PASSES (declare
    * `x IS NOT NULL` to reject nulls). One key-pruned pass per
    * constraint over the incoming rows only — never the table. */
  private def enforceConstraints(df: DataFrame,
                                 constraints: Map[String, String]): Unit =
    constraints.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val bad = df.filter(!coalesce(expr(sql), lit(true))).limit(1).collect()
      if (bad.nonEmpty) throw new ConstraintViolationException(
        s"CHECK constraint '$name' ($sql) violated, e.g. by row ${bad.head}")
    }

  /** Reject the commit if the DATASET-level expectation suite fails
    * on the incoming frame ([[Expectations]] grammar: `row_count:…`,
    * `unique:…`, `null_bp:…`, `range:…`, `min_per_group:…`; `subset`
    * is pipeline-level — it needs a reference frame — and is rejected
    * at declaration). Where CHECK constraints gate individual rows,
    * expectations gate the DELIVERY as a whole ("this refresh lost
    * 40% of its rows", "this key stopped being unique") — evaluated
    * on create's load and every merge's upsert frame BEFORE anything
    * is written, so rejection leaves zero residue. Note a
    * `row_count:lo-…` with lo > 0 makes pure-delete merges rejected
    * by design (every delivery must carry rows); trickle deletions go
    * through the MoR paths, which take no delivery frame. */
  private def enforceExpectations(df: DataFrame, expects: Seq[String]): Unit = {
    if (expects.isEmpty) return
    val checks = expects.map(e => Expectations.parse(e, _ =>
      throw new IllegalArgumentException(
        s"snapshot expects: subset checks need a reference frame and are " +
          s"pipeline-level (use the expect transform) — '$e'")))
    val bad = Expectations.report(df, checks).filter(!col("ok"))
      .select("check", "observed").collect()
    if (bad.nonEmpty) throw new ExpectationViolationException(
      "snapshot: expectation(s) rejected the incoming commit frame: " +
        bad.map(r => s"${r.getString(0)} observed=${r.getLong(1)}").mkString("; "))
  }

  private def validatePartitionValues(df: DataFrame,
                                      partitionCols: Seq[String]): Unit = {
    // every component of the (derived) partition identity must be
    // non-null and hive-safe — one distinct pass over all components.
    // Building the identity column first also runs the days()-UTC
    // session gate against df's own session.
    partValueCol(partitionCols, df)
    val fields = partitionCols.map(PartField.parse)
    val comps = fields.zipWithIndex.map { case (f, i) =>
      f.valueCol(df).as(s"__pv$i") }
    val badCond = fields.indices.map(i => col(s"__pv$i").isNull ||
      !col(s"__pv$i").rlike("^[A-Za-z0-9._-]+$")).reduce(_ || _)
    val bad = df.select(comps: _*).distinct().filter(badCond).limit(1).collect()
    if (bad.nonEmpty) {
      val i = fields.indices.find(i => bad.head.isNullAt(i) ||
        !bad.head.getString(i).matches("^[A-Za-z0-9._-]+$")).get
      throw new IllegalArgumentException(
        s"snapshot: partition value '${bad.head.get(i)}' for " +
          s"'${fields(i).spec}' is null or needs hive escaping — unsupported")
    }
  }

  // -------------------------------------------------------------- commits

  /**
   * Create the table at version 1 from `df`. `statsCols` declares the
   * columns whose per-file min/max/null stats the manifest tracks
   * (numeric and string columns only; the key is always tracked).
   */
  def create(spark: SparkSession, table: String, df: DataFrame,
             key: String, partitionCol: String,
             statsCols: Seq[String] = Nil, fileRanges: Int = 0,
             layoutMode: String = "range",
             zorderKeys: Seq[String] = Nil,
             constraints: Map[String, String] = Map.empty,
             bloomCols: Seq[String] = Nil,
             bloomBits: Int = 1 << 17, bloomK: Int = 6,
             guards: Map[String, String] = Map.empty,
             hllCols: Seq[String] = Nil, hllP: Int = 12,
             expects: Seq[String] = Nil): CommitStats =
    createMulti(spark, table, df, Seq(key), Seq(partitionCol), statsCols,
      fileRanges, layoutMode, zorderKeys, constraints, bloomCols, bloomBits,
      bloomK, guards, hllCols, hllP, expects)

  /** [[create]] with a COMPOSITE key and/or a COMPOSITE / TRANSFORMED
    * partition spec: `keys` is the full merge key (one row per key
    * TUPLE); `partitionCols` entries are identity columns, `days(ts)`
    * or `bucket(n, col)` transforms. Every key column's per-file
    * stats are tracked (key-range pruning must cover the whole key). */
  def createMulti(spark: SparkSession, table: String, df: DataFrame,
                  keys: Seq[String], partitionCols: Seq[String],
                  statsCols: Seq[String] = Nil, fileRanges: Int = 0,
                  layoutMode: String = "range",
                  zorderKeys: Seq[String] = Nil,
                  constraints: Map[String, String] = Map.empty,
                  bloomCols: Seq[String] = Nil,
                  bloomBits: Int = 1 << 17, bloomK: Int = 6,
                  guards: Map[String, String] = Map.empty,
                  hllCols: Seq[String] = Nil, hllP: Int = 12,
                  expects: Seq[String] = Nil): CommitStats =
    withCommitLock(table) {
      require(currentVersion(table) == 0,
        s"snapshot $table already exists (v${currentVersion(table)})")
      require(keys.nonEmpty && partitionCols.nonEmpty,
        "snapshot: keys and partitionCols must be non-empty")
      require(keys.distinct == keys,
        s"snapshot: duplicate key column in ${keys.mkString(",")}")
      require(partitionCols.distinct == partitionCols,
        s"snapshot: duplicate partition spec in ${partitionCols.mkString(",")}")
      val knownGuards = Set("min_rows", "max_shrink_pct")
      guards.foreach { case (k, v) =>
        require(knownGuards(k),
          s"snapshot: unknown guard '$k' (want ${knownGuards.mkString("|")})")
        require(scala.util.Try(v.toLong).isSuccess && v.toLong >= 0,
          s"snapshot: guard $k needs a non-negative integer, got '$v'")
      }
      keys.foreach(k => require(df.columns.contains(k),
        s"snapshot: df lacks key column '$k'"))
      val fields = partitionCols.map(PartField.parse)
      fields.foreach { f =>
        require(df.columns.contains(f.source),
          s"snapshot: df lacks partition source column '${f.source}'")
        validateTransformType(f, df.schema(f.source).dataType, "snapshot")
      }
      require(layoutMode == "range" || layoutMode == "zorder",
        s"snapshot: unknown layout mode '$layoutMode'")
      require(layoutMode != "zorder" || zorderKeys.nonEmpty,
        "snapshot: layout zorder needs zorderKeys")
      bloomCols.foreach { spec =>
        val (tri, c) = bloomSpec(spec)
        require(df.columns.contains(c),
          s"snapshot: bloom column '$c' not in df")
        if (tri) require(df.schema(c).dataType.isInstanceOf[StringType],
          s"snapshot: trigram index '$spec' needs a string column " +
            s"(got ${df.schema(c).dataType.simpleString})")
      }
      hllCols.foreach(c => require(df.columns.contains(c),
        s"snapshot: hll column '$c' not in df"))
      require(hllP >= 4 && hllP <= 16, s"snapshot: hllP out of range ($hllP)")
      validatePartitionValues(df, partitionCols)
      enforceConstraints(df, constraints)
      enforceExpectations(df, expects)
      val tracked = (keys ++ statsCols.filterNot(keys.contains))
        .filter(df.columns.contains)
      val layout = Layout(fileRanges, layoutMode, zorderKeys)
      val (bBits, bK) = if (bloomCols.isEmpty) (0, 6) else (bloomBits, bloomK)
      val written = writeCommit(df, table, 1, partitionCols, keys, layout)
      val parts = commitEntries(spark, table, 1, written, tracked, bloomCols, bBits, bK,
        hllCols, hllP)
      // reclaiming publish: if a guard (e.g. min_rows) rejects the
      // initial load, the freshly written files/c00000001 dir is
      // deleted so a retried create() doesn't hit path-already-exists
      writeManifestReclaiming(table, Manifest(1, 0, "create", keys, partitionCols,
        tracked, parts, layout, df.schema.toDDL, constraints, bloomCols, bBits, bK,
        guards, hllCols, hllP, expects))
      CommitStats(1, parts.keys.toSeq.sorted, Nil, parts.values.map(_.size).sum)
    }

  /**
   * Commit a keyed MERGE as a new version: insert-or-replace `upserts`
   * by key, remove `deleteKeys` (a frame carrying the key column).
   * Copy-on-write at partition granularity — only partitions containing
   * changed keys get new files; every other partition's manifest
   * entries carry forward verbatim (same files, untouched on disk).
   * Earlier versions remain readable: nothing is deleted until vacuum.
   */
  /** The shared compute of [[merge]] and [[stageMerge]]: validation,
    * affected-partition discovery and the merged survivor frame —
    * everything EXCEPT where the files land and which manifest version
    * publishes them. `caches` must be released after the write. */
  private final case class MergePlan(affected: Seq[String],
                                     merged: Option[DataFrame],
                                     newDdl: String, caches: Seq[DataFrame],
                                     newMap: Map[String, String],
                                     delivery: Option[KeyBounds])

  private def planMerge(spark: SparkSession, table: String, m: Manifest,
                        upserts: DataFrame, deleteKeys: DataFrame): MergePlan = {
    val keys = m.keys
    val target = readManifestFiles(spark, table, m)
    // ADDITIVE schema evolution: upserts may carry NEW columns (old
    // rows read back as null); they must still carry every existing
    // column, and shared columns must keep their types — narrowing
    // or dropping is a rewrite, not a merge
    val added = upserts.schema.fields.filterNot(f => target.columns.contains(f.name))
    require(target.columns.forall(upserts.columns.contains),
      s"snapshot merge: upserts lack table column(s) " +
        s"${target.columns.filterNot(upserts.columns.contains).mkString(",")}")
    upserts.schema.fields.filter(f => target.columns.contains(f.name)).foreach { f =>
      val tf = target.schema(f.name)
      // compare the SQL rendering, not DataType equality: parquet
      // read-back loosens nested nullability (array containsNull),
      // which is not a type conflict — an in-memory array<float
      // NOT NULL> upsert into an array<float> table is fine
      require(f.dataType.sql == tf.dataType.sql,
        s"snapshot merge: column '${f.name}' type ${f.dataType.simpleString} " +
          s"does not match table's ${tf.dataType.simpleString}")
    }

    // table invariants gate EVERY commit — checked before anything is
    // cached or written, so a rejected commit leaves zero residue
    enforceConstraints(upserts, m.constraints)
    enforceExpectations(upserts, m.expects)

    val ups = OpCache.cache(upserts)
    val dels = OpCache.cache(deleteKeys.select(keys.map(col): _*).distinct())
    val overlap = ups.select(keys.map(col): _*).join(dels, keys)
      .limit(1).count()
    require(overlap == 0,
      "snapshot merge: key(s) present in BOTH upserts and deleteKeys — " +
        "remove the ambiguity upstream")
    // the keyed-format invariant gate: one row per key. Checked HERE,
    // on the CACHED delivery every branch of the commit will read —
    // never on a separate plan instantiation (a non-deterministic
    // source could pass a detached probe and still deliver
    // duplicates to the write). Duplicate keys would otherwise land
    // as two rows and silently corrupt every keyed consumer. The
    // aggregate name is reserved (__graft_n) so a table whose KEY is
    // literally named 'count' still gates cleanly.
    val dupKey = ups.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .filter(col("__graft_n") > 1).limit(1).collect()
    require(dupKey.isEmpty,
      s"snapshot merge: upserts deliver ${if (dupKey.isEmpty) 0 else dupKey.head.getLong(keys.size)} " +
        s"rows for key '${dupKey.headOption.map(r => keys.indices.map(r.get).mkString(",")).orNull}' — the keyed " +
        "format admits one row per key; dedupe the delivery upstream " +
        "(SQL MERGE: a source with duplicate ON keys, or a compound-ON " +
        "NOT MATCHED insert colliding with a BY SOURCE update)")
    validatePartitionValues(ups, m.partitionCols)

    // affected partitions = where incoming rows land ∪ where changed
    // keys currently live (column-pruned discovery scan of the live
    // file set — at 100 TB this reads key + partition-source columns,
    // never payloads)
    val allKeys = OpCache.cache(
      ups.select(keys.map(col): _*).unionByName(dels).distinct())
    val resident = target
      .select((keys.map(col) :+
        partValueCol(m.partitionCols, target).as("__p")): _*)
      .join(allKeys, keys, "left_semi")
      .select(col("__p").as("p"))
    val incoming = ups.select(partValueCol(m.partitionCols, ups).as("p"))
    val affected = resident.unionByName(incoming).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // this commit's DELIVERY hull ([[KeyBounds]]): one small agg over
    // the cached delivered-key frame, recorded in the manifest so a
    // later optimistic rebase can disprove overlap without a scan.
    // Only for deterministic source plans; never fatal.
    val delivery: Option[KeyBounds] = try {
      val nonDet = Seq(upserts, deleteKeys).exists(df =>
        df.queryExecution.analyzed.exists(_.expressions.exists(!_.deterministic)))
      val kinds = keys.map(k => statKind(ups.schema(k).dataType))
      if (nonDet || kinds.exists(_.isEmpty)) None
      else {
        val aggs = keys.flatMap(k => Seq(
          min(col(k)).cast("string"), max(col(k)).cast("string")))
        val row = allKeys.agg(aggs.head, aggs.tail: _*).head()
        // a NULL hull side means the column holds no non-null values:
        // no delivered tuple can match on full-key equality
        val anyAllNull = keys.indices.exists(i => row.isNullAt(2 * i))
        if (anyAllNull) Some(KeyBounds(empty = true, Map.empty))
        else Some(KeyBounds(empty = false,
          keys.zipWithIndex.map { case (k, i) =>
            k -> ColStats(kinds(i).get, Some(row.getString(2 * i)),
              Some(row.getString(2 * i + 1)), 0L)
          }.toMap))
      }
    } catch { case _: Exception => None }
    val newDdl =
      if (added.isEmpty) m.schemaDdl
      else StructType((if (m.schemaDdl.nonEmpty)
          StructType.fromDDL(m.schemaDdl).fields
        else target.schema.fields) ++ added).toDDL
    // an added column whose name collides with a RETIRED physical name
    // (or any physical name another logical column holds) maps to a
    // fresh physical name — re-adding a dropped column must read as
    // nulls in old files, never resurrect the dropped bytes
    val usedPhys = (m.columnMap.values ++ m.retiredCols ++
      target.columns.map(m.phys)).toSet
    // the generated name itself must be collision-checked too (a table
    // could legitimately contain a literal column named `x__c6`) —
    // bump the version suffix until free
    val avoid = usedPhys ++ added.map(_.name)
    def freshPhys(logical: String): String =
      Iterator.from(m.version + 1).map(v => s"${logical}__c$v")
        .find(!avoid(_)).get
    val newMap = m.columnMap ++ added.collect {
      case f if usedPhys(f.name) => f.name -> freshPhys(f.name)
    }
    val merged =
      if (affected.isEmpty) None
      else {
        // survivors of affected partitions + upserts → this commit's
        // files; under evolution the survivors gain the new columns
        // as nulls (manifest-schema read); deletion vectors of the
        // affected files apply, so a rewrite never resurrects
        // MoR-deleted rows
        val affectedEntries = m.partitions.filter(e => affected.contains(e._1))
          .values.flatten.toSeq
        val newCols = target.columns ++ added.map(_.name)
        Some((if (affectedEntries.isEmpty) ups.select(newCols.map(col): _*).limit(0)
              else readManifestFiles(spark, table, m, affectedEntries)
                .join(allKeys, keys, "left_anti"))
          .unionByName(ups.select(newCols.map(col): _*),
            allowMissingColumns = true))
      }
    MergePlan(affected, merged, newDdl, Seq(ups, dels, allKeys), newMap,
      delivery)
  }

  def merge(spark: SparkSession, table: String, upserts: DataFrame,
            deleteKeys: DataFrame, op: String = "merge"): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist — create() first")
      val m = readManifest(table, cur)
      val plan = planMerge(spark, table, m, upserts, deleteKeys)
      val v = cur + 1
      val out = plan.merged match {
        case None => // no-op merge still commits (audit trail)
          writeManifest(table, m.copy(version = v, parent = cur, op = op,
            delivery = plan.delivery))
          CommitStats(v, Nil, Nil, 0)
        case Some(merged) =>
          val written = writeCommit(merged, table, v, m.partitionCols, m.keys,
            m.layout, plan.newMap)
          val fresh = commitEntries(spark, table, v, written, m.statsCols,
            m.bloomCols, m.bloomBits, m.bloomK, m.hllCols, m.hllP)
          val kept = m.partitions.filterNot(e => plan.affected.contains(e._1))
          val dropped = plan.affected.filterNot(fresh.contains) // emptied
          writeManifestReclaiming(table, m.copy(version = v, parent = cur, op = op,
            partitions = kept ++ fresh, schemaDdl = plan.newDdl,
            columnMap = plan.newMap, delivery = plan.delivery))
          CommitStats(v, fresh.keys.toSeq.sorted, dropped,
            fresh.values.map(_.size).sum)
      }
      plan.caches.foreach(OpCache.unpersistEager)
      out
    }

  // ------------------------------------------- optimistic concurrency

  /** A commit's DELIVERY BOUNDS: the hull, per key column, of the
    * keys the commit actually DELIVERED (upserts ∪ deletes) — NOT of
    * the files it wrote, whose copy-on-write survivors span the whole
    * partition's range and would disprove nothing. `empty` = the
    * commit delivered no conflictable keys (layout/metadata commits,
    * no-op merges, deliveries whose every row is NULL in some key
    * component — a NULL component never equals anything).
    *
    * Recorded in the manifest (`delivery_bounds`) by every merge and
    * by the non-delivering commit kinds; ABSENT (= unknown) for
    * commits that can move arbitrary keys (overwrite/replace/
    * rollback) and for legacy manifests. [[commitStaged]]'s rebase
    * walks the INTERVENING commits' recorded deliveries against the
    * stage's own: all provably disjoint (or non-delivering) → no
    * staged key can have moved → the key-overlap Spark probe —
    * seconds of job latency UNDER THE COMMIT LOCK (measured in
    * `dev.ConcurrencyBench`) — is skipped and the rebase is pure
    * driver-side metadata. Bounds are computed only from
    * DETERMINISTIC source plans (a re-executed non-deterministic
    * frame could under-report its range and skip a probe that would
    * have found a conflict). */
  final case class KeyBounds(empty: Boolean, bounds: Map[String, ColStats])

  /** A merge computed and written WITHOUT the commit lock — the
    * expensive phase of an optimistic commit. [[commitStaged]]
    * publishes it; [[abort]] discards it. */
  final case class StagedMerge private[operators] (
      table: String, readVersion: Int, stagingName: Option[String],
      subEntries: Map[String, Seq[FileEntry]], affected: Seq[String],
      newDdl: String, upserts: DataFrame, deleteKeys: DataFrame,
      newMap: Map[String, String] = Map.empty,
      private[operators] val keyBounds: Option[KeyBounds] = None) {
    /** Delete the staged files without committing (conflict cleanup). */
    def abort(): Unit = stagingName.foreach { n =>
      LogStore.forPath(table).deleteTree(s"$table/files/$n")
    }
  }

  /**
   * Phase 1 of an OPTIMISTIC commit: compute the merge against the
   * current version and write its files to `files/_staging-*` —
   * WITHOUT holding the commit lock. The pessimistic [[merge]]
   * serializes writers for its whole compute+write; at 100 TB that
   * makes the slowest writer everyone's latency. Staging moves the
   * critical section to [[commitStaged]], which holds the lock only
   * for a conflict check + an atomic directory rename + the manifest
   * write — concurrent writers touching DISJOINT partitions and keys
   * serialize on milliseconds, not on each other's shuffles.
   */
  def stageMerge(spark: SparkSession, table: String, upserts: DataFrame,
                 deleteKeys: DataFrame): StagedMerge = {
    val cur = currentVersion(table)
    require(cur > 0, s"snapshot $table does not exist — create() first")
    val m = readManifest(table, cur)
    val plan = planMerge(spark, table, m, upserts, deleteKeys)
    val out = plan.merged match {
      case None =>
        StagedMerge(table, cur, None, Map.empty, Nil, plan.newDdl,
          upserts, deleteKeys, plan.newMap, plan.delivery)
      case Some(merged) =>
        val name = "_staging-" + java.util.UUID.randomUUID().toString.take(13)
        val written = writeArranged(merged, s"$table/files/$name",
          m.partitionCols, m.keys, m.layout, plan.newMap)
        val sub = entriesOf(spark, s"$table/files/$name", s"/$name/", written,
          m.statsCols, m.bloomCols, m.bloomBits, m.bloomK, m.hllCols, m.hllP)
        StagedMerge(table, cur, Some(name), sub, plan.affected, plan.newDdl,
          upserts, deleteKeys, plan.newMap, plan.delivery)
    }
    plan.caches.foreach(OpCache.unpersistEager)
    out
  }

  /**
   * Phase 2: publish a [[StagedMerge]] under the commit lock. If other
   * commits landed since the stage's read version, the stage is
   * REBASED onto the new current manifest — its fresh files replace
   * only its own affected partitions; every concurrent disjoint change
   * carries forward — unless a true conflict is detected, each thrown
   * as [[CommitConflictException]] (staged files are left for the
   * caller to [[StagedMerge.abort]]):
   *
   *  - an intervening commit rewrote/dropped one of the stage's
   *    affected partitions (the staged survivors are stale);
   *  - an intervening commit landed one of the stage's keys in a
   *    partition the stage did not rewrite (a concurrent upsert of the
   *    same key elsewhere — publishing would duplicate or resurrect
   *    the key). Checked by a key-pruned scan of ONLY the files the
   *    intervening commits added;
   *  - the schema evolved (the staged files were written under the old
   *    DDL), or the stage's base manifest has been vacuumed (nothing
   *    left to diff against).
   */
  def commitStaged(spark: SparkSession, staged: StagedMerge,
                   strict: Boolean = false): CommitStats =
    withCommitLock(staged.table) {
      val table = staged.table
      val curNow = currentVersion(table)
      val mC = readManifest(table, curNow)
      if (curNow != staged.readVersion) {
        def conflict(why: String) = throw new CommitConflictException(
          s"snapshot $table: staged merge (read v${staged.readVersion}, " +
            s"now v$curNow) conflicts: $why")
        // strict (the WAP path): ANY intervening commit is a conflict,
        // even a disjoint one a plain merge would rebase over — the
        // audit certified the state derived from readVersion, and a
        // rebased publish could violate a whole-table invariant the
        // concurrent commit eroded (e.g. row_count dropping below the
        // audited floor). The caller re-stages and RE-AUDITS.
        if (strict)
          conflict("intervening commit under a write-audit-publish " +
            "stage (the audit must re-run against the new current version)")
        if (!store(table).exists(manifestPath(table, staged.readVersion)))
          conflict(s"base manifest v${staged.readVersion} was vacuumed")
        val mB = readManifest(table, staged.readVersion)
        if (mC.schemaDdl != mB.schemaDdl)
          conflict("concurrent schema evolution")
        // a concurrent rewrite_partitioning changes the PARTITION
        // DOMAIN itself: the staged files' __part values are
        // old-spec renderings a new-spec manifest could never prune
        // or re-discover — publishing would strand them silently
        if (mC.partitionCols != mB.partitionCols)
          conflict("concurrent partition-spec change " +
            s"(${mB.partitionLabel} -> ${mC.partitionLabel})")
        // compare by (path, dv) identity, not FileEntry equality:
        // bloom byte arrays compare by reference (two manifest reads
        // never "equal"), and a dv change IS a real change — an
        // intervening merge-on-read DELETE invalidates the stage's
        // survivors exactly like a rewrite would
        val changed = (mB.partitions.keySet ++ mC.partitions.keySet)
          .filter(p => mB.partitions.get(p).map(_.map(entryIdent)) !=
            mC.partitions.get(p).map(_.map(entryIdent)))
        val overlap = changed intersect staged.affected.toSet
        if (overlap.nonEmpty)
          conflict(s"partition(s) ${overlap.toSeq.sorted.mkString(",")} " +
            "also rewritten by a concurrent commit")
        val basePaths = mB.files.map(_.path).toSet
        val newFiles = mC.files.filterNot(f => basePaths.contains(f.path))
        if (newFiles.nonEmpty) {
          // REBASE FAST PATH: the probe below is a Spark job UNDER THE
          // COMMIT LOCK (measured 1-2 s in dev.ConcurrencyBench — it
          // made 16 disjoint writers serialize on seconds each). A
          // staged key can only have MOVED if some intervening commit
          // DELIVERED it (copy-on-write survivors stay put; deletes/
          // updates of staged keys hit the partition-overlap check
          // above) — so walk the intervening commits' recorded
          // delivery_bounds against this stage's own: every one
          // provably disjoint (or non-delivering) → skip the probe,
          // the rebase is pure driver-side metadata. Unknown bounds
          // (legacy commits, overwrite/rollback, non-deterministic
          // sources) or intersecting ranges fall through to the exact
          // probe. File-hull disproof would NOT work here: a rewritten
          // partition's file stats span its survivors' whole range.
          // one stat: drop memoized bounds from a dead table
          // incarnation before trusting any of them ([[deliveryMemo]])
          validateDeliveryMemo(table)
          val mightOverlap = staged.keyBounds match {
            case Some(kb) if kb.empty => false
            case Some(kb) if kb.bounds.nonEmpty =>
              ((staged.readVersion + 1) to curNow).exists { iv =>
                // deliveryBoundsOf STREAM-parses the root only — a
                // full readManifest here would resolve every shard
                // and segment file of each intervening version UNDER
                // THE LOCK (at 100k files on an object store, minutes
                // of fan-out to save a 2 s probe)
                deliveryBoundsOf(table, iv) match {
                  case Some(d) if d.empty => false
                  case Some(d) if d.bounds.nonEmpty =>
                    // potential overlap iff ranges intersect on EVERY
                    // key column (a composite tuple needs all)
                    mC.keys.forall { kc =>
                      (kb.bounds.get(kc), d.bounds.get(kc)) match {
                        case (Some(a), Some(b))
                          if a.min.isDefined && a.max.isDefined =>
                          // unparseable bounds (a float key rendering
                          // "NaN"/"Infinity") can't disprove overlap:
                          // admits keeps them → exact probe
                          admits(Bound(a.min, a.max))(b)
                        case _ => true // unknown column: can't disprove
                      }
                    }
                  case _ => true
                }
              }
            case _ => true
          }
          if (mightOverlap) {
            val stagedKeys = staged.upserts.select(mC.keys.map(col): _*)
              .unionByName(staged.deleteKeys.select(mC.keys.map(col): _*))
              .distinct()
            val moved = readManifestFiles(spark, table, mC, newFiles)
              .select(mC.keys.map(col): _*)
              .join(stagedKeys, mC.keys, "left_semi")
              .limit(1).count()
            if (moved > 0)
              conflict("a concurrent commit wrote row(s) for the same key(s)")
          }
        }
      }
      val v = curNow + 1
      staged.stagingName match {
        case None =>
          writeManifest(table, mC.copy(version = v, parent = curNow,
            op = "merge", delivery = staged.keyBounds))
          CommitStats(v, Nil, Nil, 0)
        case Some(name) =>
          val prefix = f"files/c$v%08d/"
          store(table).rename(s"$table/files/$name",
            commitDir(table, v)) // atomic: same store
          val fresh = staged.subEntries.map { case (p, fs) =>
            p -> fs.map(f => f.copy(path = prefix + f.path)) }
          val kept = mC.partitions.filterNot(e => staged.affected.contains(e._1))
          val dropped = staged.affected.filterNot(fresh.contains)
          writeManifestReclaiming(table, mC.copy(version = v, parent = curNow,
            op = "merge", partitions = kept ++ fresh,
            schemaDdl = staged.newDdl, columnMap = staged.newMap,
            delivery = staged.keyBounds))
          CommitStats(v, fresh.keys.toSeq.sorted, dropped,
            fresh.values.map(_.size).sum)
      }
    }

  /**
   * Optimistic merge loop: [[stageMerge]] (no lock) → [[commitStaged]]
   * (milliseconds under the lock). Lock contention waits and retries
   * the COMMIT only (the staged files stay valid); a true
   * [[CommitConflictException]] aborts the stage and recomputes
   * against the new current version, up to `maxConflictRetries`.
   * Single-writer behavior is identical to [[merge]].
   */
  def mergeOptimistic(spark: SparkSession, table: String,
                      upserts: DataFrame, deleteKeys: DataFrame,
                      maxConflictRetries: Int = 3,
                      lockWaitMs: Long = 60000L): CommitStats = {
    var attempt = 0
    var out: Option[CommitStats] = None
    while (out.isEmpty) {
      val staged = stageMerge(spark, table, upserts, deleteKeys)
      try {
        val deadline = System.currentTimeMillis() + lockWaitMs
        var done: Option[CommitStats] = None
        while (done.isEmpty) {
          try done = Some(commitStaged(spark, staged))
          catch {
            case e: ConcurrentCommitException =>
              if (System.currentTimeMillis() >= deadline) throw e
              Thread.sleep(100)
          }
        }
        out = done
      } catch {
        case e: CommitConflictException =>
          staged.abort()
          attempt += 1
          if (attempt > maxConflictRetries) throw e
      }
    }
    out.get
  }

  /**
   * WRITE-AUDIT-PUBLISH merge: stage the merge (no lock), AUDIT the
   * post-merge TABLE STATE against an [[Expectations]] suite, and
   * only then publish. Where commit `expects` (enforceExpectations)
   * gate the incoming DELIVERY frame, the WAP audit sees the state
   * readers would get — kept partitions (deletion vectors applied) +
   * the staged files — so it can assert whole-table invariants a
   * delivery check cannot ("the table still has every source group",
   * "total rows never drop below N"), and a failing audit means the
   * bad state NEVER existed as a version (no audit-then-rollback
   * window, no follower ever sees it). Publish reuses the optimistic
   * machinery: lock held only for conflict-check + rename; a true
   * conflict aborts the stage and the loop re-stages AND RE-AUDITS
   * against the new current version. Unlike [[mergeOptimistic]], a
   * DISJOINT concurrent commit is also a conflict here (strict
   * commit): the audit certified the post-state derived from this
   * stage's read version, and letting [[commitStaged]] rebase over a
   * commit the audit never saw could publish a version violating the
   * whole-table invariant (a concurrent deletion eroding the audited
   * row-count floor) — exactly the "failing audit never becomes a
   * version" guarantee. The cost is a retry where the optimistic path
   * would have composed; audited correctness over concurrency.
   */
  def wapMerge(spark: SparkSession, table: String,
               upserts: DataFrame, deleteKeys: DataFrame,
               audit: Seq[String],
               maxConflictRetries: Int = 3,
               lockWaitMs: Long = 60000L): CommitStats = {
    require(audit.nonEmpty,
      "wapMerge: empty audit suite — use mergeOptimistic for unaudited commits")
    var attempt = 0
    var out: Option[CommitStats] = None
    while (out.isEmpty) {
      val staged = stageMerge(spark, table, upserts, deleteKeys)
      val mB = readManifest(table, staged.readVersion)
      val keptParts = mB.partitions.filterNot(e => staged.affected.contains(e._1))
      val stagedParts = staged.stagingName.map { n =>
        staged.subEntries.map { case (p, fs) =>
          p -> fs.map(f => f.copy(path = s"files/$n/" + f.path)) }
      }.getOrElse(Map.empty[String, Seq[FileEntry]])
      val mPost = mB.copy(partitions = keptParts ++ stagedParts,
        schemaDdl = staged.newDdl, columnMap = staged.newMap)
      val postState =
        if (mPost.files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType.fromDDL(mPost.schemaDdl))
        else readManifestFiles(spark, table, mPost)
      try enforceExpectations(postState, audit)
      catch { case e: Throwable => staged.abort(); throw e }
      try {
        val deadline = System.currentTimeMillis() + lockWaitMs
        var done: Option[CommitStats] = None
        while (done.isEmpty) {
          try done = Some(commitStaged(spark, staged, strict = true))
          catch {
            case e: ConcurrentCommitException =>
              if (System.currentTimeMillis() >= deadline) throw e
              Thread.sleep(100)
          }
        }
        out = done
      } catch {
        case e: CommitConflictException =>
          staged.abort()
          attempt += 1
          if (attempt > maxConflictRetries) throw e
      }
    }
    out.get
  }

  /**
   * COMPACT fragmented partitions as a commit: every partition holding
   * more than `maxFilesPerPartition` files is rewritten into one file
   * per partition (rows unchanged — a pure layout commit), every other
   * partition carries forward verbatim. The trickle-merge failure mode
   * (a 2%/day refresh leaves each hot partition with one small file
   * per commit) is repaired atomically and time-travel-safely: readers
   * of older versions keep the old files until vacuum.
   */
  def compact(spark: SparkSession, table: String,
              maxFilesPerPartition: Int = 4): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      // rewrite fragmented partitions AND partitions carrying deletion
      // vectors — compact is where merge-on-read deletes MATERIALIZE
      // (rows physically dropped, vectors cleared), resetting the
      // read-side anti-join mass to zero
      val frag = m.partitions.filter { case (_, fs) =>
        fs.size > maxFilesPerPartition || fs.exists(_.dv.isDefined) }
      val v = cur + 1
      if (frag.isEmpty) {
        writeManifest(table, m.copy(version = v, parent = cur, op = "compact",
          delivery = Some(KeyBounds(empty = true, Map.empty))))
        CommitStats(v, Nil, Nil, 0)
      } else {
        // one task per partition value → one output file per partition
        // (manifest schema: post-evolution commits hold mixed-schema
        // files; the compacted file carries the full current schema);
        // the dv-applied read drops masked rows from the new files
        val compactBase = physicalize(
          readManifestFiles(spark, table, m, frag.values.flatten.toSeq),
          m.columnMap)
        compactBase
          .withColumn("__part", partValueCol(m.partitionCols, compactBase))
          .repartition(col("__part"))
          .write.mode("error").partitionBy("__part").parquet(commitDir(table, v))
        val fresh = commitEntries(spark, table, v, compactBase.schema, m.statsCols,
          m.bloomCols, m.bloomBits, m.bloomK, m.hllCols, m.hllP)
        // carry schemaDdl (kept pre-evolution files still need the
        // manifest schema authority) and constraints forward — a
        // layout-only commit changes neither
        writeManifestReclaiming(table, m.copy(version = v, parent = cur, op = "compact",
          partitions = m.partitions.filterNot(e => frag.contains(e._1)) ++ fresh,
          delivery = Some(KeyBounds(empty = true, Map.empty))))
        CommitStats(v, fresh.keys.toSeq.sorted, Nil, fresh.values.map(_.size).sum)
      }
    }

  /**
   * RE-LAYOUT the table as ONE commit — the `OPTIMIZE ZORDER` of the
   * format: every partition's VISIBLE rows (deletion vectors applied,
   * so MoR deletes materialize away like compact) rewrite under a new
   * [[Layout]], which becomes the table property every later commit
   * arranges by (merge/DML/compact all read it from the manifest).
   * This is the lifecycle's one deliberate full rewrite — re-sorting
   * is inherently a rewrite — priced exactly once; afterward range
   * reads prune on the new keys' narrowed per-file ranges. Rollback
   * to a pre-relayout version restores the OLD layout property along
   * with the old files (the manifest carries both). Z-order keys must
   * be identity-mapped columns (not renamed — the arrange pipeline
   * addresses physical names) and become contract columns
   * ([[evolutionBarred]]) going forward.
   */
  def relayout(spark: SparkSession, table: String, fileRanges: Int,
               layoutMode: String = "range",
               zorderKeys: Seq[String] = Nil): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      require(fileRanges > 0, "relayout: fileRanges must be positive")
      require(layoutMode == "range" || layoutMode == "zorder",
        s"relayout: unknown layout mode '$layoutMode'")
      require(layoutMode != "zorder" || zorderKeys.nonEmpty,
        "relayout: layout zorder needs zorderKeys")
      val m = readManifest(table, cur)
      val schemaCols =
        if (m.schemaDdl.nonEmpty) StructType.fromDDL(m.schemaDdl).fieldNames.toSeq
        else Nil
      zorderKeys.foreach { k =>
        require(schemaCols.isEmpty || schemaCols.contains(k),
          s"relayout: no column '$k'")
        require(m.phys(k) == k,
          s"relayout: z-order key '$k' is a renamed column — z-order keys " +
            "must be identity-mapped (compact first, or key on the physical name)")
      }
      val lay = Layout(fileRanges, layoutMode, zorderKeys)
      val v = cur + 1
      val written = writeCommit(readManifestFiles(spark, table, m), table, v,
        m.partitionCols, m.keys, lay, m.columnMap)
      val fresh = commitEntries(spark, table, v, written, m.statsCols,
        m.bloomCols, m.bloomBits, m.bloomK, m.hllCols, m.hllP)
      val opName = s"relayout($layoutMode x$fileRanges" +
        (if (zorderKeys.nonEmpty) s" on ${zorderKeys.mkString(",")})" else ")")
      writeManifestReclaiming(table, m.copy(version = v, parent = cur,
        op = opName, partitions = fresh, layout = lay,
        delivery = Some(KeyBounds(empty = true, Map.empty))))
      CommitStats(v, fresh.keys.toSeq.sorted,
        m.partitions.keySet.filterNot(fresh.contains).toSeq.sorted,
        fresh.values.map(_.size).sum)
    }

  /**
   * REWRITE the table under a NEW PARTITION SPEC as ONE commit — the
   * `rewrite_partitioning` verb: a table created single-column can
   * migrate to a composite spec or to hidden partitioning
   * (`days(ts)`, `bucket(n, col)`) without DROP + CREATE. Like
   * [[relayout]] this is a deliberate full rewrite, priced once:
   * every visible row (deletion vectors applied) rewrites under the
   * new spec, which becomes the version's partition contract — older
   * versions keep THEIR spec in THEIR manifests, so time travel and
   * rollback across the change are exact. Keys, layout, stats/bloom/
   * HLL tracking, constraints, guards and expectations carry forward;
   * new partition sources must exist in the schema at a
   * transform-compatible type and be identity-mapped (rename the
   * column after, not before).
   */
  def repartitionTable(spark: SparkSession, table: String,
                       newPartitionCols: Seq[String]): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      require(newPartitionCols.nonEmpty, "repartitionTable: empty spec")
      require(newPartitionCols.distinct == newPartitionCols,
        s"repartitionTable: duplicate spec entry in ${newPartitionCols.mkString(",")}")
      val m = readManifest(table, cur)
      require(m.schemaDdl.nonEmpty,
        s"snapshot $table: no manifest schema — pre-schema table cannot repartition")
      if (newPartitionCols == m.partitionCols)
        return CommitStats(cur, Nil, Nil, 0) // no-op: spec unchanged
      val schema = StructType.fromDDL(m.schemaDdl)
      newPartitionCols.map(PartField.parse).foreach { f =>
        val sf = schema.fields.find(_.name == f.source).getOrElse(
          throw new IllegalArgumentException(
            s"repartitionTable: no column '${f.source}' in the table schema"))
        require(m.phys(f.source) == f.source,
          s"repartitionTable: partition source '${f.source}' is a renamed " +
            "column — sources must be identity-mapped")
        validateTransformType(f, sf.dataType, "repartitionTable")
      }
      val df = readManifestFiles(spark, table, m)
      validatePartitionValues(df, newPartitionCols)
      val v = cur + 1
      val written = writeCommit(df, table, v, newPartitionCols, m.keys,
        m.layout, m.columnMap)
      val fresh = commitEntries(spark, table, v, written, m.statsCols, m.bloomCols,
        m.bloomBits, m.bloomK, m.hllCols, m.hllP)
      writeManifestReclaiming(table, m.copy(version = v, parent = cur,
        op = s"repartition(${newPartitionCols.mkString(",")})",
        partitions = fresh, partitionCols = newPartitionCols,
        delivery = Some(KeyBounds(empty = true, Map.empty))))
      CommitStats(v, fresh.keys.toSeq.sorted,
        m.partitions.keySet.filterNot(fresh.contains).toSeq.sorted,
        fresh.values.map(_.size).sum)
    }

  /**
   * REPLACE the table's visible rows with `df` as ONE versioned commit
   * — the transactional face of SQL `INSERT OVERWRITE`. The incoming
   * frame becomes the table's entire state at the new version; every
   * pre-existing file leaves the manifest but stays owned by its
   * historical versions (time travel serves the old state verbatim;
   * vacuum reclaims by retention like any rewrite). The table CONTRACT
   * carries forward unchanged — key, partition column, layout,
   * stats/bloom/HLL tracking, constraints, guards, expectations,
   * schema and column mapping — and every gate a merge enforces runs
   * BEFORE anything lands (CHECK constraints, expectations, partition
   * validity; `min_rows`/`max_shrink_pct` guards gate the published
   * manifest, so an overwrite that vaporizes a guarded table is
   * rejected with zero residue). The frame must carry exactly the
   * table's columns at their current types: overwrite REPLACES state,
   * it does not evolve schema — a merge whose upserts carry new
   * columns is the additive-evolution path.
   */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): CommitStats =
    withCommitLock(table) { overwriteLocked(spark, table, Some(df)) }

  /** TRUNCATE: [[overwrite]] with an empty frame of the table's
    * CURRENT schema — resolved under the SAME lock claim as the
    * commit, so a concurrent evolution can never wedge a schema the
    * empty frame predates. Guards apply: a `min_rows`-guarded table
    * refuses truncation. */
  def truncate(spark: SparkSession, table: String): CommitStats =
    withCommitLock(table) { overwriteLocked(spark, table, None) }

  /**
   * PARTITION-SCOPED OVERWRITE — the daily-refresh verb: replace
   * exactly the scoped partitions with the frame's rows as ONE commit,
   * every other partition carried forward untouched (at 100 TB the
   * everyday "reload today's partition" rewrites one partition's
   * bytes, never the table's). Two scoping modes, both manifest-native
   * (the manifest already keys file entries by partition value):
   *
   *  - `scope = None` (DYNAMIC — the semantics of Spark's dynamic
   *    partitionOverwriteMode; SQL's dynamic conf mode lands here too,
   *    via [[graft.sources.GraftDynamicOverwriteCommand]]'s
   *    analysis-time interception of `OverwritePartitionsDynamic` —
   *    the verb the V1 write bridge cannot express): the partitions
   *    the frame CONTAINS replace;
   *    partitions absent from the frame are untouched. A dynamic
   *    refresh that delivers ZERO rows commits NOTHING (no silent
   *    version bump masking an upstream failure).
   *  - `scope = Some(values)` (STATIC — SQL `INSERT OVERWRITE …
   *    PARTITION (p = v)` semantics): exactly those partitions
   *    replace — a scoped value the frame has no rows for EMPTIES;
   *    frame rows OUTSIDE the scope refuse (never silently widened).
   *
   * The table contract carries forward; CHECK constraints,
   * expectations, partition validity and the manifest guards all
   * enforce, and the pre-overwrite state stays time-travelable.
   */
  def overwritePartitions(spark: SparkSession, table: String, df: DataFrame,
                          scope: Option[Set[String]] = None): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      val aligned = alignForReplace(spark, table, m, Some(df))
      enforceConstraints(aligned, m.constraints)
      enforceExpectations(aligned, m.expects)
      validatePartitionValues(aligned, m.partitionCols)
      val cached = OpCache.cache(aligned)
      try {
        val dfParts = cached.select(
          partValueCol(m.partitionCols, cached).as("__p"))
          .distinct().collect().map(_.getString(0)).toSet
        scope.foreach { s =>
          val outside = dfParts -- s
          require(outside.isEmpty,
            s"snapshot overwritePartitions: frame carries rows for " +
              s"partition(s) ${outside.toSeq.sorted.mkString(",")} outside " +
              s"the static scope ${s.toSeq.sorted.mkString(",")} — a static " +
              "PARTITION spec is exact, never silently widened")
        }
        if (scope.isEmpty && dfParts.isEmpty)
          // dynamic + empty delivery: nothing to replace — do NOT
          // burn a version on a no-op (an accidentally-empty upstream
          // should not look like a successful refresh)
          return CommitStats(cur, Nil, Nil, 0)
        val affected = scope.getOrElse(dfParts)
        val v = cur + 1
        val fresh =
          if (dfParts.isEmpty) Map.empty[String, Seq[FileEntry]]
          else {
            val written = writeCommit(cached, table, v, m.partitionCols,
              m.keys, m.layout, m.columnMap)
            commitEntries(spark, table, v, written, m.statsCols, m.bloomCols,
              m.bloomBits, m.bloomK, m.hllCols, m.hllP)
          }
        val opScope = {
          val s = affected.toSeq.sorted
          if (s.size <= 8) s.mkString(",")
          else s.take(8).mkString(",") + s",… +${s.size - 8} more"
        }
        writeManifestReclaiming(table, m.copy(version = v, parent = cur,
          op = s"overwrite_partitions($opScope)", delivery = None,
          partitions = m.partitions.filterNot(e => affected.contains(e._1))
            ++ fresh))
        CommitStats(v, fresh.keys.toSeq.sorted,
          affected.filterNot(fresh.contains).toSeq.sorted,
          fresh.values.map(_.size).sum)
      } finally OpCache.unpersistEager(cached)
    }

  /** Align a replace frame to the table's current schema (exact-match
    * contract: overwrite replaces state, it does not evolve schema);
    * None builds the truncate frame — empty at the current schema. */
  private def alignForReplace(spark: SparkSession, table: String,
                              m: Manifest, dfOpt: Option[DataFrame]): DataFrame = {
    val tableCols =
      if (m.schemaDdl.nonEmpty) StructType.fromDDL(m.schemaDdl)
      else readManifestFiles(spark, table, m).schema
    dfOpt match {
      case None => // truncate: empty frame of the current schema
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          tableCols)
      case Some(df) =>
        require(tableCols.fieldNames.forall(df.columns.contains),
          s"snapshot overwrite: frame lacks table column(s) " +
            tableCols.fieldNames.filterNot(df.columns.contains).mkString(","))
        val extra = df.columns.filterNot(tableCols.fieldNames.contains)
        require(extra.isEmpty,
          s"snapshot overwrite: unknown column(s) ${extra.mkString(",")} — " +
            "overwrite replaces state, it does not evolve schema (merge " +
            "upserts carrying new columns are the additive-evolution path)")
        tableCols.fields.foreach { tf =>
          val f = df.schema(tf.name)
          require(f.dataType.sql == tf.dataType.sql,
            s"snapshot overwrite: column '${f.name}' type " +
              s"${f.dataType.simpleString} does not match table's " +
              tf.dataType.simpleString)
        }
        df.select(tableCols.fieldNames.map(col).toSeq: _*)
    }
  }

  /**
   * REPLACE the table's rows AND SCHEMA as ONE versioned commit — the
   * `REPLACE TABLE … AS SELECT` verb with schema redefinition (the
   * Delta/Iceberg RTAS contract; [[overwrite]] is the schema-exact
   * replace). The frame's schema BECOMES the table schema: added
   * columns simply exist, dropped columns leave the logical schema,
   * and because every live file is rewritten the column mapping and
   * retired-name bookkeeping RESET (no old bytes remain to collide
   * with). History is preserved — time travel across the replace
   * serves each version under ITS OWN schema, and rollback restores
   * the pre-replace schema with the pre-replace files.
   *
   * The table CONTRACT is still immutable: key and partition-source
   * columns must survive at their exact types (a contract change is
   * DROP + CREATE), a CHECK constraint / expectation / z-order key
   * referencing a dropped column refuses (drop the invariant first —
   * it must never silently stop being enforced), and stats/bloom/HLL
   * tracking narrows to the surviving columns. Every commit gate runs
   * (constraints, expectations, partition validity, guards).
   */
  def replaceTable(spark: SparkSession, table: String,
                   df: DataFrame): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      require(m.schemaDdl.nonEmpty,
        s"snapshot $table: no manifest schema — pre-schema table cannot replace")
      val oldSchema = StructType.fromDDL(m.schemaDdl)
      (m.keys ++ m.partSources).distinct.foreach { c =>
        require(df.columns.contains(c),
          s"snapshot replace: frame lacks contract column '$c' (key/" +
            "partition) — the contract is immutable; redefine via DROP + CREATE")
        oldSchema.fields.find(_.name == c).foreach(of =>
          require(df.schema(c).dataType.sql == of.dataType.sql,
            s"snapshot replace: contract column '$c' changes type " +
              s"${of.dataType.simpleString} -> ${df.schema(c).dataType.simpleString}"))
      }
      val dropped = oldSchema.fieldNames.filterNot(df.columns.contains).toSeq
      dropped.foreach { c =>
        // stats/bloom/HLL tracking narrows instead of refusing (and
        // contract columns were already required present above) — but
        // a tracked column may ALSO anchor an invariant, so ask for
        // ALL the invariant reasons, never just the first
        evolutionBarredAll(m, c).find(r =>
          r.contains("CHECK") || r.contains("expectation") ||
            r.contains("z-order")).foreach(why =>
          throw new IllegalArgumentException(
            s"snapshot replace: cannot drop '$c' — $why; drop the " +
              "invariant first"))
      }
      enforceConstraints(df, m.constraints)
      enforceExpectations(df, m.expects)
      validatePartitionValues(df, m.partitionCols)
      val v = cur + 1
      val statsCols = (m.keys ++ m.statsCols.filterNot(m.keys.contains))
        .filter(df.columns.contains)
      // survival is decided by the SOURCE column (a trigram spec
      // `3g:text` survives while `text` does), never the raw spec
      val bloomCols = m.bloomCols.filter(s => df.columns.contains(bloomSpec(s)._2))
      val hllCols = m.hllCols.filter(df.columns.contains)
      // columnMap resets: the replace writes every live byte under the
      // new logical names, so physical == logical again
      val written = writeCommit(df, table, v, m.partitionCols, m.keys, m.layout)
      val fresh = commitEntries(spark, table, v, written, statsCols, bloomCols,
        m.bloomBits, m.bloomK, hllCols, m.hllP)
      writeManifestReclaiming(table, m.copy(version = v, parent = cur,
        op = "replace", partitions = fresh, schemaDdl = df.schema.toDDL,
        statsCols = statsCols, bloomCols = bloomCols, hllCols = hllCols,
        columnMap = Map.empty, retiredCols = Nil, delivery = None))
      CommitStats(v, fresh.keys.toSeq.sorted,
        m.partitions.keySet.filterNot(fresh.contains).toSeq.sorted,
        fresh.values.map(_.size).sum)
    }

  private def overwriteLocked(spark: SparkSession, table: String,
                              dfOpt: Option[DataFrame]): CommitStats = {
    val cur = currentVersion(table)
    require(cur > 0, s"snapshot $table does not exist")
    val m = readManifest(table, cur)
    val aligned = alignForReplace(spark, table, m, dfOpt)
    enforceConstraints(aligned, m.constraints)
    enforceExpectations(aligned, m.expects)
    validatePartitionValues(aligned, m.partitionCols)
    val v = cur + 1
    val written = writeCommit(aligned, table, v, m.partitionCols, m.keys,
      m.layout, m.columnMap)
    val fresh = commitEntries(spark, table, v, written, m.statsCols, m.bloomCols,
      m.bloomBits, m.bloomK, m.hllCols, m.hllP)
    writeManifestReclaiming(table, m.copy(version = v, parent = cur,
      op = "overwrite", partitions = fresh, delivery = None))
    CommitStats(v, fresh.keys.toSeq.sorted,
      m.partitions.keySet.filterNot(fresh.contains).toSeq.sorted,
      fresh.values.map(_.size).sum)
  }

  // ------------------------------------- non-additive schema evolution

  /** Columns the non-additive evolution ops must not touch: the table
    * contract references them by name in machinery that reads data
    * files directly (merge keys, partition pruning, stats/bloom/HLL
    * manifests, CHECK/expectation strings, z-order keys). Renaming or
    * dropping one is a table REDEFINITION, not an evolution. */
  private def evolutionBarredAll(m: Manifest, name: String): Seq[String] = {
    // expectation checks name their column(s) as the second `:`
    // segment (unique/null_bp/range/min_per_group/accepted_values);
    // row_count has none — substring matching would spuriously bar
    // any column whose name happens to appear inside unrelated check
    // text. A compound `unique:a+b` names EVERY `+`-joined column
    // (dropping either would brick all future delivery gates).
    def expectCols(check: String): Seq[String] = {
      val parts = check.split(":", 3)
      if (parts.length >= 2 && parts(0) != "row_count")
        parts(1).split('+').toSeq
      else Nil
    }
    // constraint SQL: match the name as a whole identifier, not a
    // substring ('n' inside 'n_chars > 0' is not a reference)
    def sqlReferences(sql: String): Boolean =
      ("""(?<![A-Za-z0-9_`])""" + java.util.regex.Pattern.quote(name) +
        """(?![A-Za-z0-9_`])""").r.findFirstIn(sql).isDefined
    // EVERY reason, not just the first: callers that ignore a CLASS
    // of reasons (replaceTable drops stats/bloom/HLL tracking instead
    // of refusing) must still see the invariant reasons a tracked
    // column may ALSO carry
    val reasons = Seq.newBuilder[String]
    if (m.keys.contains(name)) reasons += "a merge key column"
    if (m.partSources.contains(name)) reasons += "a partition source column"
    if (m.statsCols.contains(name)) reasons += "a stats column"
    // a trigram spec bars its SOURCE column (the bare name never
    // appears in bloomCols for a trigram-only tracking)
    if (m.bloomCols.exists(s => bloomSpec(s)._2 == name))
      reasons += "a bloom column"
    if (m.hllCols.contains(name)) reasons += "an HLL column"
    if (m.layout.zorderKeys.contains(name)) reasons += "a z-order key"
    if (m.constraints.exists(c => sqlReferences(c._2)))
      reasons += "referenced by a CHECK constraint"
    if (m.expects.flatMap(expectCols).contains(name))
      reasons += "referenced by a commit expectation"
    reasons.result()
  }

  private def evolutionBarred(m: Manifest, name: String): Option[String] =
    evolutionBarredAll(m, name).headOption

  private def evolveSchema(table: String, op: String)
                          (f: Manifest => Manifest): CommitStats =
    evolveSchemaAll(table, Seq(op -> f))

  /** A multi-change evolution STATEMENT as ONE commit: every change's
    * own validation runs against the accumulating manifest INSIDE the
    * commit lock, so a statement either applies whole at a single new
    * version or refuses whole — no concurrent commit can land between
    * "validated" and "applied" (the race a validate-then-commit-each
    * split cannot close). The op records every change. */
  private[graft] def evolveSchemaAll(table: String,
      steps: Seq[(String, Manifest => Manifest)]): CommitStats =
    withCommitLock(table) {
      require(steps.nonEmpty, "evolveSchemaAll: no changes")
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      require(m.schemaDdl.nonEmpty,
        s"snapshot $table: no manifest schema — pre-schema table cannot evolve")
      val evolved = steps.foldLeft(m) { case (acc, (_, f)) => f(acc) }
      // a statement whose every change is a PROVEN no-op (xforms
      // return the manifest instance unchanged — e.g. re-tracking an
      // already-tracked bloom) burns no version, matching
      // repartitionTable's same-spec contract; an idempotent
      // deployment script re-running its ALTERs leaves no history noise
      if (evolved eq m) return CommitStats(cur, Nil, Nil, 0)
      val op =
        if (steps.size == 1) steps.head._1
        else steps.map(_._1).mkString("evolve(", "; ", ")")
      writeManifest(table,
        evolved.copy(version = cur + 1, parent = cur, op = op,
          delivery = Some(KeyBounds(empty = true, Map.empty))))
      CommitStats(cur + 1, Nil, Nil, 0)
    }

  /**
   * RENAME a column — a METADATA-ONLY commit (zero data files
   * touched): the logical schema takes the new name and the column
   * map records that its bytes still live under the old PHYSICAL name
   * (Delta name-mode / Iceberg field-id semantics — physical names
   * are stable forever, so every existing file, deletion vector, and
   * staged write keeps working verbatim). Time travel renders each
   * version under ITS OWN logical names; rollback across a rename
   * restores the old name. Barred for contract columns
   * ([[evolutionBarred]]) and for names already taken.
   */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): CommitStats =
    evolveSchema(table, s"rename_column($from->$to)")(
      renameColumnXform(table, from, to))

  private[graft] def renameColumnXform(table: String, from: String,
                                       to: String)(m: Manifest): Manifest = {
    val fields = StructType.fromDDL(m.schemaDdl).fields
    require(fields.exists(_.name == from),
      s"snapshot $table: no column '$from'")
    require(!fields.exists(_.name == to),
      s"snapshot $table: column '$to' already exists")
    evolutionBarred(m, from).foreach(why => throw new IllegalArgumentException(
      s"snapshot $table: cannot rename '$from' — $why"))
    val newDdl = StructType(fields.map(f =>
      if (f.name == from) f.copy(name = to) else f)).toDDL
    m.copy(schemaDdl = newDdl,
      columnMap = (m.columnMap - from) + (to -> m.phys(from)))
  }

  /**
   * DROP a column — a METADATA-ONLY commit: the column leaves the
   * logical schema; its bytes stay in existing files (readers simply
   * never request them — parquet pruning skips the pages) and fall
   * out physically at the next compact/rewrite of each file. The
   * PHYSICAL name is RETIRED: a later re-add of the same logical name
   * maps to a fresh physical name, so old bytes can never resurrect
   * as the new column's values (they read as null, exactly like any
   * additive add). Time travel before the drop still shows the
   * column.
   */
  def dropColumn(spark: SparkSession, table: String, name: String): CommitStats =
    evolveSchema(table, s"drop_column($name)")(dropColumnXform(table, name))

  private[graft] def dropColumnXform(table: String, name: String)
                                    (m: Manifest): Manifest = {
    val fields = StructType.fromDDL(m.schemaDdl).fields
    require(fields.exists(_.name == name),
      s"snapshot $table: no column '$name'")
    require(fields.length > 1,
      s"snapshot $table: cannot drop the last column")
    evolutionBarred(m, name).foreach(why => throw new IllegalArgumentException(
      s"snapshot $table: cannot drop '$name' — $why"))
    m.copy(schemaDdl = StructType(fields.filterNot(_.name == name)).toDDL,
      columnMap = m.columnMap - name,
      retiredCols = (m.retiredCols :+ m.phys(name)).distinct)
  }

  /**
   * WIDEN a column's type — a METADATA-ONLY commit. Only provably
   * safe promotions (`int`→`bigint`, `float`→`double`): existing
   * files keep their narrow physical type and the parquet reader
   * up-converts per batch (Spark's vectorized reader supports these
   * promotions natively); files written after the widening carry the
   * wide type. Narrowing or any other change is a rewrite, not an
   * evolution — rejected.
   */
  def widenColumn(spark: SparkSession, table: String,
                  name: String, newType: String): CommitStats =
    evolveSchema(table, s"widen_column($name:$newType)")(
      widenColumnXform(table, name, newType))

  private[graft] def widenColumnXform(table: String, name: String,
                                      newType: String)(m: Manifest): Manifest = {
    val fields = StructType.fromDDL(m.schemaDdl).fields
    val f = fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"snapshot $table: no column '$name'"))
    evolutionBarred(m, name).foreach(why => throw new IllegalArgumentException(
      s"snapshot $table: cannot widen '$name' — $why"))
    val allowed = Map("int" -> Set("bigint"), "float" -> Set("double"))
    val fromT = f.dataType.simpleString
    require(allowed.get(fromT).exists(_.contains(newType)),
      s"snapshot $table: '$name' $fromT -> $newType is not a safe widening " +
        s"(allowed: int->bigint, float->double)")
    val t = org.apache.spark.sql.types.DataType.fromDDL(newType)
    m.copy(schemaDdl = StructType(fields.map(x =>
      if (x.name == name) x.copy(dataType = t) else x)).toDDL)
  }

  /**
   * ADD a column — a METADATA-ONLY commit (zero data files touched):
   * the logical schema gains the field; pre-evolution files simply
   * never contain it and read NULL-FILLED through the manifest-schema
   * scan, exactly how a merge-carried additive evolution renders the
   * survivors. The SQL `ALTER TABLE ADD COLUMN` face of additive
   * evolution for the schema-first workflow (declare now, backfill
   * by merge later); the data-first path — a merge whose upserts
   * carry the new column — keeps working unchanged. Re-adding a
   * previously DROPPED name maps to a FRESH physical name (the
   * retired bytes can never resurrect as the new column's values —
   * the same collision rule [[merge]]'s additive path applies). Old
   * versions render without the column; the commit is
   * time-travelable like every evolution step.
   */
  def addColumn(spark: SparkSession, table: String,
                name: String, newType: String): CommitStats =
    evolveSchema(table, s"add_column($name:$newType)")(
      addColumnXform(table, name, newType))

  private[graft] def addColumnXform(table: String, name: String,
                                    newType: String)(m: Manifest): Manifest = {
    val fields = StructType.fromDDL(m.schemaDdl).fields
    require(!fields.exists(_.name == name),
      s"snapshot $table: column '$name' already exists")
    val t = org.apache.spark.sql.types.DataType.fromDDL(newType)
    // same physical-name collision rule as planMerge's additive path:
    // a name matching any retired or otherwise-held physical name
    // maps to a fresh one, bumping the suffix until free
    val usedPhys = (m.columnMap.values ++ m.retiredCols ++
      fields.map(f => m.phys(f.name))).toSet
    val newMap =
      if (!usedPhys(name)) m.columnMap
      else m.columnMap + (name -> Iterator.from(m.version + 1)
        .map(v => s"${name}__c$v").find(!usedPhys(_)).get)
    m.copy(
      schemaDdl = StructType(fields :+
        org.apache.spark.sql.types.StructField(name, t)).toDDL,
      columnMap = newMap)
  }

  // ----------------------------- table-property (invariant) lifecycle

  /**
   * ADD a CHECK constraint AFTER create — a metadata commit that
   * first proves EVERY existing visible row satisfies the predicate
   * (one pruned scan, first violation short-circuits): a constraint
   * that admits the current state gates all FUTURE commits exactly
   * like a create-declared one; a constraint the data already
   * violates refuses with an example row and the version untouched
   * (the Delta `ADD CONSTRAINT` contract — an invariant that was
   * never true must not silently start lying). SQL face:
   * `ALTER TABLE t SET TBLPROPERTIES ('check.<name>' = '<sql>')`.
   */
  def addCheck(spark: SparkSession, table: String,
               name: String, sql: String): CommitStats =
    evolveSchemaAll(table, Seq(
      s"add_check($name)" -> addCheckXform(spark, table, name, sql)))

  private[graft] def addCheckXform(spark: SparkSession, table: String,
                                   name: String, sql: String)
                                  (m: Manifest): Manifest = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"snapshot $table: bad constraint name '$name'")
    require(!m.constraints.contains(name),
      s"snapshot $table: CHECK '$name' already exists — drop it first " +
        "(constraints replace by drop+add, never silently)")
    val existing = readManifestFiles(spark, table, m)
    val bad = existing.filter(!coalesce(expr(sql), lit(true))).limit(1).collect()
    if (bad.nonEmpty) throw new ConstraintViolationException(
      s"snapshot $table: cannot add CHECK '$name' ($sql) — an existing " +
        s"row already violates it, e.g. ${bad.head}")
    m.copy(constraints = m.constraints + (name -> sql))
  }

  /** DROP a CHECK constraint — a metadata commit; future commits stop
    * enforcing it, history keeps every version that did. */
  def dropCheck(spark: SparkSession, table: String, name: String): CommitStats =
    evolveSchemaAll(table, Seq(s"drop_check($name)" -> dropCheckXform(table, name)))

  private[graft] def dropCheckXform(table: String, name: String)
                                   (m: Manifest): Manifest = {
    require(m.constraints.contains(name),
      s"snapshot $table: no CHECK '$name' " +
        s"(declared: ${m.constraints.keys.toSeq.sorted.mkString(",")})")
    m.copy(constraints = m.constraints - name)
  }

  /** SET a table GUARD (`min_rows` / `max_shrink_pct`) after create —
    * a metadata commit. The guard gates the publishing manifest
    * itself, so declaring a floor the CURRENT state already violates
    * refuses (an already-broken circuit breaker is a lie). SQL face:
    * `ALTER TABLE t SET TBLPROPERTIES ('guard.min_rows' = '1000')`. */
  def setGuard(spark: SparkSession, table: String,
               name: String, value: String): CommitStats =
    evolveSchemaAll(table, Seq(
      s"set_guard($name=$value)" -> setGuardXform(table, name, value)))

  private[graft] def setGuardXform(table: String, name: String, value: String)
                                  (m: Manifest): Manifest = {
    val known = Set("min_rows", "max_shrink_pct")
    require(known(name),
      s"snapshot $table: unknown guard '$name' (want ${known.mkString("|")})")
    require(scala.util.Try(value.toLong).isSuccess && value.toLong >= 0,
      s"snapshot $table: guard $name needs a non-negative integer, got '$value'")
    m.copy(guards = m.guards + (name -> value))
  }

  /** RELEASE a table guard — a metadata commit. */
  def dropGuard(spark: SparkSession, table: String, name: String): CommitStats =
    evolveSchemaAll(table, Seq(s"drop_guard($name)" -> dropGuardXform(table, name)))

  private[graft] def dropGuardXform(table: String, name: String)
                                   (m: Manifest): Manifest = {
    require(m.guards.contains(name),
      s"snapshot $table: no guard '$name' " +
        s"(declared: ${m.guards.keys.toSeq.sorted.mkString(",")})")
    m.copy(guards = m.guards - name)
  }

  /** REPLACE the table's commit-expectation suite (the delivery gate)
    * — a metadata commit; an empty list clears it. Each check must
    * parse under the [[Expectations]] grammar (subset stays
    * pipeline-level, as at create). SQL face: `ALTER TABLE t SET
    * TBLPROPERTIES ('expects' = 'unique:id;row_count:100-1000000')`. */
  def setExpectations(spark: SparkSession, table: String,
                      exprs: Seq[String]): CommitStats =
    evolveSchemaAll(table, Seq(
      s"set_expects(${exprs.mkString(";")})" -> setExpectsXform(table, exprs)))

  private[graft] def setExpectsXform(table: String, exprs: Seq[String])
                                    (m: Manifest): Manifest = {
    exprs.foreach(e => Expectations.parse(e, _ =>
      throw new IllegalArgumentException(
        s"snapshot $table expects: subset checks need a reference frame " +
          s"and are pipeline-level — '$e'")))
    m.copy(expects = exprs)
  }

  /** START (or reshape) column TRACKING after create — a
    * metadata-only commit closing the create-time-only asymmetry:
    * `statsCols` REPLACES the non-key per-file min/max set (key
    * columns stay tracked forever), bloom adds a per-file bloom
    * filter, hll a per-file HLL sketch. Tracking takes effect on the
    * NEXT rewrite of each file: files written from this version on
    * record the new stats/sketches; PRE-EXISTING files backfill at
    * their next rewrite — run [[compact]] once to backfill the whole
    * table (the bloom contract since the feature landed). Until then
    * every consumer degrades conservatively: range and bloom pruning
    * KEEP a file with no recorded entry, and the manifest-HLL
    * aggregate refuses with a "compact() once" error rather than
    * undercounting. SQL face: `ALTER TABLE t SET TBLPROPERTIES
    * ('statsCols'='a,b', 'bloom.c'='131072,6', 'hll.d'='12')`;
    * `UNSET TBLPROPERTIES ('bloom.c')` stops tracking a column. */
  def setStatsCols(spark: SparkSession, table: String,
                   cols: Seq[String]): CommitStats =
    evolveSchemaAll(table, Seq(
      s"set_stats_cols(${cols.mkString(",")})" -> setStatsColsXform(table, cols)))

  /** Column `name` must exist in the logical schema and be
    * identity-mapped — the per-file trackers read written files by
    * PHYSICAL name, so a renamed column's stats would never be found.
    * (Tracked columns are barred from rename, so this only bites a
    * column renamed BEFORE tracking started: compact rewrites don't
    * re-physicalize, the mapping is forever — track the new name's
    * data by adding a fresh column instead.) */
  private def requireTrackable(m: Manifest, table: String, name: String,
                               what: String): StructField = {
    val fields = StructType.fromDDL(m.schemaDdl).fields
    val f = fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $table: no column '$name' to $what-track"))
    require(m.phys(name) == name,
      s"snapshot $table: cannot $what-track '$name' — it is a renamed " +
        s"column (bytes live under '${m.phys(name)}'); tracking reads " +
        "files by physical name")
    f
  }

  private[graft] def setStatsColsXform(table: String, cols: Seq[String])
                                      (m: Manifest): Manifest = {
    cols.filterNot(m.keys.contains).foreach { c =>
      val f = requireTrackable(m, table, c, "stats")
      require(statKind(f.dataType).isDefined,
        s"snapshot $table: stats-tracking '$c' (${f.dataType.simpleString}) " +
          "is unsupported — numeric and string columns only")
    }
    val next = m.keys ++ cols.filterNot(m.keys.contains).distinct
    // proven no-op: same instance back so evolveSchemaAll skips the
    // commit — an idempotent re-ALTER must not burn a version, the
    // same contract addBloomXform/addHllXform already honor
    if (next == m.statsCols) m else m.copy(statsCols = next)
  }

  /** Add a per-file BLOOM filter on `name` (effective next rewrite —
    * see [[setStatsCols]]'s backfill contract). `bits`/`k` are
    * TABLE-WIDE (one sizing per manifest): a table that already
    * tracks blooms refuses a disagreeing sizing. */
  def trackBloom(spark: SparkSession, table: String, name: String,
                 bits: Int = 1 << 17, k: Int = 6): CommitStats =
    evolveSchemaAll(table, Seq(
      s"track_bloom($name)" -> addBloomXform(table, name, bits, k)))

  /** A bloom SPEC is either a bare column name (the VALUE filter —
    * point-lookup skipping) or `3g:<col>` (the TRIGRAM filter — the
    * substring-search index of [[ContainsPred]]). Two filter kinds,
    * ONE tracking list: carry-forward, compaction backfill, REPLACE
    * inheritance, fsck and serialization treat both uniformly, and
    * only the build aggregate and the prune predicate differ. */
  private[graft] val TriPrefix = "3g:"
  private[graft] def bloomSpec(s: String): (Boolean, String) =
    if (s.startsWith(TriPrefix)) (true, s.stripPrefix(TriPrefix))
    else (false, s)

  /** Add a per-file TRIGRAM bloom on string column `name` — the
    * SUBSTRING index: `column LIKE '%needle%'` served by
    * [[ContainsPred]] pruning without a full scan.
    * Tracked as the bloom spec `3g:<name>` (see [[bloomSpec]]), so
    * sizing is the table-wide bloom sizing and the backfill contract
    * is [[trackBloom]]'s: files index on their next rewrite,
    * `compact` backfills, untracked files read conservatively. */
  def trackTrigram(spark: SparkSession, table: String, name: String,
                   bits: Int = 1 << 17, k: Int = 6): CommitStats =
    evolveSchemaAll(table, Seq(
      s"track_trigram($name)" -> addBloomXform(table, TriPrefix + name, bits, k)))

  /** Stop trigram-tracking `name` (metadata-only commit). */
  def untrackTrigram(spark: SparkSession, table: String, name: String): CommitStats =
    evolveSchemaAll(table, Seq(
      s"untrack_trigram($name)" -> dropBloomXform(table, TriPrefix + name)))

  private[graft] def addBloomXform(table: String, name: String,
                                   bits: Int, k: Int)(m: Manifest): Manifest = {
    val (tri, src) = bloomSpec(name)
    val f = requireTrackable(m, table, src, if (tri) "trigram" else "bloom")
    if (tri) require(f.dataType.isInstanceOf[StringType],
      s"snapshot $table: trigram index '$src' needs a string column " +
        s"(got ${f.dataType.simpleString}) — grams are code-point windows")
    require(bits > 0 && k > 0,
      s"snapshot $table: bloom needs positive bits/k (got $bits,$k)")
    if (m.bloomCols.nonEmpty)
      require(bits == m.bloomBits && k == m.bloomK,
        s"snapshot $table: bloom sizing is table-wide " +
          s"(${m.bloomBits},${m.bloomK}) — a new column cannot declare " +
          s"($bits,$k)")
    if (m.bloomCols.contains(name)) m
    else m.copy(bloomCols = m.bloomCols :+ name, bloomBits = bits, bloomK = k)
  }

  private[graft] def dropBloomXform(table: String, name: String)
                                   (m: Manifest): Manifest = {
    require(m.bloomCols.contains(name),
      s"snapshot $table: no bloom tracked for '$name' " +
        s"(tracked: ${m.bloomCols.mkString(",")})")
    m.copy(bloomCols = m.bloomCols.filterNot(_ == name))
  }

  /** Add a per-file HLL sketch on `name` (effective next rewrite —
    * see [[setStatsCols]]; [[aggStats]] refuses distinct estimates
    * until a compact backfills every file). `p` is table-wide. */
  def trackHll(spark: SparkSession, table: String, name: String,
               p: Int = 12): CommitStats =
    evolveSchemaAll(table, Seq(
      s"track_hll($name)" -> addHllXform(table, name, p)))

  private[graft] def addHllXform(table: String, name: String, p: Int)
                                (m: Manifest): Manifest = {
    requireTrackable(m, table, name, "hll")
    require(p >= 4 && p <= 16, s"snapshot $table: hllP out of range ($p)")
    if (m.hllCols.nonEmpty)
      require(p == m.hllP,
        s"snapshot $table: HLL precision is table-wide (${m.hllP}) — a " +
          s"new column cannot declare $p")
    if (m.hllCols.contains(name)) m
    else m.copy(hllCols = m.hllCols :+ name, hllP = p)
  }

  private[graft] def dropHllXform(table: String, name: String)
                                 (m: Manifest): Manifest = {
    require(m.hllCols.contains(name),
      s"snapshot $table: no HLL tracked for '$name' " +
        s"(tracked: ${m.hllCols.mkString(",")})")
    m.copy(hllCols = m.hllCols.filterNot(_ == name))
  }

  /** Publish a new version whose live file set IS `toVersion`'s — an
    * O(manifest) undo. History is preserved (rollback is itself a
    * commit); the rolled-back-over versions stay readable. */
  def rollback(spark: SparkSession, table: String, toVersion: Int): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      val old = readManifest(table, toVersion)
      val v = cur + 1
      writeManifest(table, old.copy(version = v, parent = cur,
        op = s"rollback($toVersion)", delivery = None))
      CommitStats(v, Nil, Nil, 0)
    }

  /** Delete data files referenced by NO retained version and drop the
    * expired manifests. Retention composes as a UNION of policies —
    * a version ANY policy protects survives:
    *
    *  - COUNT: the last `retainLast` versions (and always the current
    *    one) — the default window;
    *  - AGE (`retainHours >= 0`): every version committed within the
    *    last `retainHours` hours, resolved through the manifests'
    *    `committed_at` instants — the policy real retention contracts
    *    are written in ("keep 7 days"). Pre-instant legacy manifests
    *    (committed_at 0) get no age protection (the count window and
    *    tags still apply);
    *  - TAGS: pinned versions always survive (see [[tag]]).
    *
    * Time travel to a vacuumed version fails with a clear error;
    * later versions are untouched — their files are referenced and
    * survive. [[expireSnapshots]] is the absolute-instant face of the
    * same sweep. */
  def vacuum(spark: SparkSession, table: String, retainLast: Int = 2,
             stagingStaleMs: Long = 6 * 3600 * 1000L,
             retainHours: Double = -1): VacuumStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val byCount = (math.max(1, cur - math.max(1, retainLast) + 1) to cur).toSeq
      val byAge: Seq[Int] =
        if (retainHours < 0) Nil
        else {
          require(!retainHours.isNaN && !retainHours.isInfinite,
            s"snapshot vacuum: retainHours must be finite, got $retainHours")
          val cutoffMs =
            System.currentTimeMillis() - (retainHours * 3600 * 1000).toLong
          (1 to cur).filter(v => store(table).exists(manifestPath(table, v)) &&
            committedAt(table, v) >= cutoffMs)
        }
      vacuumRetaining(table, cur, byCount ++ byAge, stagingStaleMs)
    }

  /** The Iceberg-named ops verb: drop every version committed AT OR
    * BEFORE `olderThanMillis` (the current version and tag-pinned
    * versions always survive), reclaiming their unreferenced files —
    * [[vacuum]] with an ABSOLUTE cutoff instead of a relative window.
    * Pre-instant legacy manifests (committed_at 0) count as older
    * than any cutoff. */
  def expireSnapshots(spark: SparkSession, table: String,
                      olderThanMillis: Long,
                      stagingStaleMs: Long = 6 * 3600 * 1000L): VacuumStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val retained = (1 to cur).filter(v => v == cur ||
        (store(table).exists(manifestPath(table, v)) &&
          committedAt(table, v) > olderThanMillis))
      vacuumRetaining(table, cur, retained, stagingStaleMs)
    }

  /** Shared sweep body: delete files/manifests no version in
    * `retain` (∪ the tag pins) references. Caller holds the lock. */
  private def vacuumRetaining(table: String, cur: Int, retain: Seq[Int],
                              stagingStaleMs: Long): VacuumStats = {
      // tagged versions are PINNED: their manifests and files survive
      // any retention window (see [[tag]])
      val pinned = tags(table).values.toSet
      val retainedVs = (retain ++ pinned :+ cur).distinct.sorted
      val st = store(table)
      val retainedMs = retainedVs
        .filter(v => st.exists(manifestPath(table, v)))
        .map(v => readManifest(table, v))
      val referenced = retainedMs.flatMap(_.files.map(_.path)).toSet
      // deletion-vector DIRECTORIES referenced by retained versions:
      // every file under one is live (the manifest references the dir,
      // not the part files inside it)
      val dvDirs = retainedMs.flatMap(_.files.flatMap(_.dv).map(_.path + "/")).toSet
      val filesRoot = s"$table/files"
      var deleted = 0; var freed = 0L
      if (st.isDirectory(filesRoot)) {
        def isSidecarName(n: String): Boolean =
          n.startsWith("_") || n.startsWith(".")
        // an in-flight optimistic stage ([[stageMerge]]) lives under
        // files/_staging-*; its files are NOT orphans — skip the whole
        // subtree in both passes, reap only ABANDONED stages below
        def underStaging(rel: String): Boolean =
          rel.split('/').exists(_.startsWith("_staging-"))
        // pass 1: unreferenced data files (a file under a retained
        // version's deletion-vector dir is referenced via the dir).
        // walkFiles yields filesRoot-relative paths; the manifest's
        // are table-relative — prefix to compare
        st.walkFiles(filesRoot).filter { rel =>
          val tableRel = "files/" + rel
          val name = rel.substring(rel.lastIndexOf('/') + 1)
          !isSidecarName(name) && !underStaging(rel) &&
            !referenced.contains(tableRel) &&
            !dvDirs.exists(tableRel.startsWith)
        }.foreach { rel =>
          val p = s"$filesRoot/$rel"
          val sz = st.size(p)
          if (st.delete(p)) { freed += sz; deleted += 1 }
        }
        // pass 2, bottom-up: directories left holding only sidecars are
        // fully vacuumed — drop the sidecars, then the empty dirs
        def sweep(dir: String, isRoot: Boolean): Unit = {
          st.list(dir).foreach {
            case (n, true) if !n.startsWith("_staging-") =>
              sweep(s"$dir/$n", isRoot = false)
            case _ => ()
          }
          val children = st.list(dir)
          if (children.forall { case (n, isDir) => !isDir && isSidecarName(n) }) {
            children.foreach { case (n, _) => st.delete(s"$dir/$n"); deleted += 1 }
            if (!isRoot) st.delete(dir)
          }
        }
        sweep(filesRoot, isRoot = true)
        // reap staging dirs older than stagingStaleMs — a crashed
        // optimistic writer's droppings (a LIVE stage is minutes old)
        st.list(filesRoot).foreach {
          case (n, true) if n.startsWith("_staging-") &&
              System.currentTimeMillis() -
                st.modifiedTime(s"$filesRoot/$n") > stagingStaleMs =>
            val d = s"$filesRoot/$n"
            st.walkFiles(d).foreach { rel =>
              freed += st.size(s"$d/$rel"); deleted += 1 }
            st.deleteTree(d)
          case _ => ()
        }
      }
      var mDeleted = 0
      val retainedSet = retainedVs.toSet
      (1 until cur).filterNot(retainedSet.contains).foreach { v =>
        if (st.delete(manifestPath(table, v))) mDeleted += 1
      }
      // segment files referenced by NO retained manifest (expired
      // versions' exclusive segments, crashed writers' orphans) — the
      // metadata companion of the data-file sweep above
      val segDir = s"${logDir(table)}/seg"
      if (st.isDirectory(segDir)) {
        val segReferenced =
          retainedMs.flatMap(m => m.segRefs.values.map(_.path) ++
            m.listShards.values.map(_.path)).toSet
        st.list(segDir).foreach {
          case (n, false) if !segReferenced.contains(s"seg/$n") =>
            val sz = st.size(s"$segDir/$n")
            // a reclaimed segment counts as METADATA (manifestsDeleted
            // reports the whole log sweep); bytes only on success
            if (st.delete(s"$segDir/$n")) { freed += sz; mDeleted += 1 }
          case _ => ()
        }
      }
      VacuumStats(deleted, mDeleted, freed)
  }

  // ---------------------------------------------------------------- reads

  /** A file entry's CHANGE identity: same data file + same deletion
    * vector = same visible rows. Used wherever two manifests are
    * diffed (conflict detection, change feeds) — FileEntry equality
    * itself is unusable there (bloom `Array[Byte]` compares by
    * reference) and path equality alone would miss merge-on-read
    * deletes, which change visible rows without changing paths. */
  private def entryIdent(f: FileEntry): (String, Option[DvRef]) = (f.path, f.dv)

  /** A scanned row's manifest-relative file path: the tail of
    * `_metadata.file_path` from its LAST `files/cNNNNNNNN/` segment —
    * the same relativization [[entriesOf]] does driver-side, expressed
    * as a Column so deletion vectors can be matched in the plan. */
  private def relFileCol: Column =
    regexp_extract(col("_metadata.file_path"),
      "^.*/(files/c[0-9]{8}/.*)$", 1)

  private def readManifestFiles(spark: SparkSession, table: String,
                                m: Manifest, only: Seq[FileEntry] = null,
                                applyDv: Boolean = true): DataFrame = {
    val entries = if (only == null) m.files else only
    if (entries.isEmpty) {
      // a ZERO-ROW table is legal (plain CREATE TABLE commits v1 with
      // schema and no files; a merge can also empty a table) — serve
      // an empty frame under the manifest schema. Only a manifest
      // that recorded no schema at all is unreadable.
      if (m.schemaDdl.nonEmpty)
        return spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType.fromDDL(m.schemaDdl))
      throw new IllegalStateException(s"snapshot $table v${m.version}: empty file set")
    }
    // the manifest schema drives the read: files predating an additive
    // evolution lack the new columns and come back null-filled —
    // WITHOUT mergeSchema's all-footers inference pass (at 100 TB the
    // manifest IS the schema authority, the table-format answer).
    // Under column mapping the reader asks for PHYSICAL names (what
    // the bytes are stored as — renames never moved them; dropped
    // columns simply aren't requested, so parquet pruning skips their
    // bytes) and the logical view is a projection at the very end.
    val physSchema = if (m.schemaDdl.isEmpty) null
      else StructType(StructType.fromDDL(m.schemaDdl).fields.map(f =>
        f.copy(name = m.phys(f.name))))
    // the file index comes from the entries themselves: no listing
    // job, no stat per file ([[ManifestFileIndex]])
    val base = ManifestFileIndex.frame(spark, table, entries, physSchema)
    def logicalView(df: DataFrame): DataFrame =
      if (m.columnMap.isEmpty) df
      else df.select(StructType.fromDDL(m.schemaDdl).fields.map(f =>
        col(m.phys(f.name)).as(f.name)): _*)
    val dvDirs = entries.flatMap(_.dv).map(_.path).distinct
    if (!applyDv || dvDirs.isEmpty) logicalView(base)
    else {
      // mask deleted positions: anti-join on (file, row position).
      // The vector frame is bounded by rows DELETED since the last
      // materializing compact — parquet size stats let AQE broadcast
      // it while it stays small; compact() resets it to zero. A dir
      // union may carry rows for files whose entry points at a newer
      // vector (a superset — positions only accumulate), so applying
      // the union is equivalent to applying each entry's own vector.
      // the mask columns get reserved __dvm_ names so a table whose
      // DATA schema contains 'file' or 'pos' still resolves unambiguously
      val dv = readDv(spark, table, dvDirs)
        .select(col("file").as("__dvm_file"), col("pos").as("__dvm_pos"))
      val cols = base.columns
      logicalView(base.withColumn("__dv_file", relFileCol)
        .withColumn("__dv_pos", col("_metadata.row_index"))
        .join(dv, col("__dv_file") === col("__dvm_file") &&
          col("__dv_pos") === col("__dvm_pos"), "left_anti")
        .select(cols.map(col): _*))
    }
  }

  /** The fixed schema of a deletion-vector dir's rows. */
  private val dvSchema = StructType.fromDDL("file STRING, pos BIGINT")

  /** The rows of deletion-vector dirs (table-relative) under
    * [[dvSchema]]: no footer-inference job per DV-masked frame.
    * [[fsck]] keeps its inferring read — an audit should see the
    * bytes on disk. */
  private def readDv(spark: SparkSession, table: String,
                     dirs: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(dirs.map(d => s"$table/$d"): _*)

  /** A read that pruning left with no file: the manifest-schema empty
    * frame, built without opening or listing a single data file. Only
    * a manifest with no recorded schema still derives its schema from
    * the files. */
  private def emptyRead(spark: SparkSession, table: String, m: Manifest): DataFrame =
    if (m.schemaDdl.nonEmpty) readManifestFiles(spark, table, m, Nil)
    else readManifestFiles(spark, table, m).limit(0)

  /** The table as of `version` (time travel). */
  def readAt(spark: SparkSession, table: String, version: Int): DataFrame =
    readManifestFiles(spark, table, readManifest(table, version))

  def readLatest(spark: SparkSession, table: String): DataFrame = {
    val cur = currentVersion(table)
    require(cur > 0, s"snapshot $table does not exist")
    readAt(spark, table, cur)
  }

  /** Compare strings in UTF-8 BINARY order — Spark's UTF8String
    * collation, the order every manifest string stat was computed
    * under. Java's natural `<`/`>` compares UTF-16 code units, which
    * DISAGREES for supplementary-plane text ('😀' sorts above U+FFFF
    * in bytes, below it in UTF-16) — a pruning pass mixing the two
    * orders can wrongly drop a file whose range really admits the
    * predicate, and pruning must never be a semantics change. Every
    * string stat comparison in this object (and the connector's
    * folds) goes through here. */
  private[graft] def cmpUtf8(a: String, b: String): Int = {
    val u8 = java.nio.charset.StandardCharsets.UTF_8
    val (x, y) = (a.getBytes(u8), b.getBytes(u8))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** [[cmpUtf8]] as an Ordering (min/max folds over stat strings). */
  private[graft] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => cmpUtf8(a, b)

  /** A value's numeric reading, when it has one. */
  private def num(x: Any): Option[BigDecimal] =
    scala.util.Try(BigDecimal(x.toString)).toOption

  /** A (possibly open — `None` = unbounded on that side — possibly
    * strict) bound on one column: what every range-like conjunct, and
    * each value of an IN list, prunes through. */
  private final case class Bound(lo: Option[Any], hi: Option[Any],
                                 loStrict: Boolean = false,
                                 hiStrict: Boolean = false)

  /** The ONE stats comparator of every bounded predicate: does a
    * file's `[min, max]` (stats strings of `cs.kind`) admit the
    * bound? Numeric on num-kind stats ("10" is not < "9"),
    * UTF-8-lexicographic otherwise. On num-kind stats a bound or stat
    * with no numeric reading (a float's "Infinity"/"NaN") cannot
    * disprove a match, so the file is kept: the string order is wrong
    * for numbers ("20.0" < "5.0"), and the exact filter after pruning
    * keeps the result right. Strict bounds compare strictly against
    * the OPPOSING stat: a file whose max EQUALS a strict lower bound
    * provably holds no matching row — skipping it saves the
    * boundary-aligned file a daily retention sweep would otherwise
    * rewrite verbatim every run. All-null files (no min/max) never
    * match. The bounds parse once; the returned test runs per file. */
  private def admits(b: Bound): ColStats => Boolean = {
    val Bound(lo, hi, loStrict, hiStrict) = b
    val (loN, hiN) = (lo.map(num), hi.map(num))
    val numericBounds = loN.forall(_.isDefined) && hiN.forall(_.isDefined)
    cs => (cs.min, cs.max) match {
      case (Some(fMin), Some(fMax)) if cs.kind == "num" =>
        (num(fMin), num(fMax)) match {
          case (Some(mn), Some(mx)) if numericBounds =>
            loN.flatten.forall(x => if (loStrict) mx > x else mx >= x) &&
              hiN.flatten.forall(x => if (hiStrict) mn < x else mn <= x)
          case _ => true
        }
      case (Some(fMin), Some(fMax)) =>
        lo.forall { l => val c = cmpUtf8(fMax, l.toString)
          if (loStrict) c > 0 else c >= 0 } &&
          hi.forall { h => val c = cmpUtf8(fMin, h.toString)
            if (hiStrict) c < 0 else c <= 0 }
      case _ => false
    }
  }

  /** Partition-level pruning for a (possibly open, possibly strict)
    * bound predicate on partition SOURCE column `partFields(i)
    * .source`: map the bounds into the derived component domain per
    * the field's transform and keep the admitting partitions.
    *
    *  - identity: the classic compare — numeric when the value space
    *    and bounds all parse numerically ("10" is not < "9"),
    *    UTF-8-lexicographic otherwise;
    *  - days(ts): MONOTONE — a timestamp bound maps to its UTC day
    *    and ISO day strings compare lexicographically; strict instant
    *    bounds relax to inclusive DAY bounds (a strict bound still
    *    admits other rows of its own day — conservative);
    *  - bucket(n, c): only EQUALITY maps through a hash (lo == hi,
    *    non-strict); any real range keeps everything.
    *
    * Staged so each stage runs as rarely as it can: applied to the
    * manifest it reads the value space (once per conjunct), applied
    * to a bound pair it maps the bounds into the component domain
    * (once per IN value), and the test it returns runs once per
    * partition key. Unmappable bounds keep everything — pruning is an
    * IO optimization, conservative by construction, never a semantics
    * change. */
  private def prunePartsBounds(m: Manifest, i: Int): Bound => String => Boolean = {
    val keepAll: String => Boolean = _ => true
    def comp(p: String): String = partComponent(m, p, i)
    val byBound: Bound => String => Boolean =
      m.partFields(i) match {
        case _: IdentityField =>
          // a non-numeric value space stops parsing at its first
          // component: a parse failure is an exception, and a string
          // space of 100k partitions would otherwise throw 100k times
          val comps = m.partitions.keys.map(comp)
          val numericSpace = comps.forall(num(_).isDefined)
          lazy val nums = comps.map(c => c -> BigDecimal(c)).toMap
          lazy val strSource = partSourceDomain(m, i).contains("str")
          b => {
            val Bound(lo, hi, loStrict, hiStrict) = b
            if (numericSpace && (lo ++ hi).forall(num(_).isDefined)) {
              val (l, h) = (lo.flatMap(num), hi.flatMap(num))
              p => { val v = nums(comp(p))
                l.forall(x => if (loStrict) v > x else v >= x) &&
                  h.forall(x => if (hiStrict) v < x else v <= x) }
            } else if (numericSpace && !strSource)
              // a bound with no numeric reading (a float's "Infinity")
              // on a source not declared a string: the string order is
              // wrong for numbers ("20.0" < "5.0") — keep everything
              keepAll
            else
              p => { val c = comp(p)
                lo.forall { l => val d = cmpUtf8(c, l.toString)
                  if (loStrict) d > 0 else d >= 0 } &&
                  hi.forall { h => val d = cmpUtf8(c, h.toString)
                    if (hiStrict) d < 0 else d <= 0 } }
          }
        case tf: TimeField =>
          b => {
            val l = b.lo.map(timeKeyOf(tf, _))
            val h = b.hi.map(timeKeyOf(tf, _))
            if (l.exists(_.isEmpty) || h.exists(_.isEmpty)) keepAll
            else p => { val c = comp(p)
              l.flatten.forall(d => cmpUtf8(c, d) >= 0) &&
                h.flatten.forall(d => cmpUtf8(c, d) <= 0) }
          }
        case TruncateField(n, _) =>
          // monotone like the time grains: a bound maps to its own
          // truncation and strict bounds relax to inclusive (a strict
          // bound still admits other rows of its truncation bucket).
          // The MAPPING is type-dispatched (floor for integrals, prefix
          // for strings), so the bound's runtime type must MATCH the
          // source column's DECLARED domain — the manifest schema is
          // authoritative (heuristics over stored components cannot
          // distinguish a numeric-looking string prefix like "21" from
          // an integral floor, and a cross-domain mapping is a wrong
          // prune, not a conservative one). Integral bounds on an
          // integral source floor and compare numerically ("100" is not
          // < "20"); string bounds on a string source prefix and
          // compare UTF-8; anything else keeps all files.
          val domain = partSourceDomain(m, i)
          b => {
            val bounds = b.lo.toSeq ++ b.hi.toSeq
            val integralBounds = bounds.forall {
              case _: java.lang.Byte | _: java.lang.Short |
                   _: java.lang.Integer | _: java.lang.Long => true
              case _ => false
            }
            val stringBounds = bounds.forall(_.isInstanceOf[String])
            val l = b.lo.map(truncOf(n, _))
            val h = b.hi.map(truncOf(n, _))
            if (l.exists(_.isEmpty) || h.exists(_.isEmpty)) keepAll
            else if (domain.contains("int") && integralBounds) p =>
              num(comp(p)).forall { v =>
                l.flatten.forall(d => v >= BigDecimal(d)) &&
                  h.flatten.forall(d => v <= BigDecimal(d))
              }
            else if (domain.contains("str") && stringBounds) p => {
              val c = comp(p)
              l.flatten.forall(d => cmpUtf8(c, d) >= 0) &&
                h.flatten.forall(d => cmpUtf8(c, d) <= 0)
            }
            else keepAll
          }
        case BucketField(n, _) =>
          // equality maps through the hash only when the bound's
          // runtime type matches the source domain — the hash is over
          // the RENDERING, and a cross-domain bound can render
          // differently than the stored value it matches after the
          // residual filter's cast ("07" casts equal to 7 but hashes
          // apart) — same authority as truncate: the manifest schema
          val domain = partSourceDomain(m, i)
          b => b match {
            case Bound(Some(a), Some(z), false, false) if a == z &&
                bucketReplayable(a) &&
                ((domain.contains("str") && a.isInstanceOf[String]) ||
                  (domain.contains("int") && !a.isInstanceOf[String])) =>
              val want = bucketOf(n, a)
              p => comp(p) == want
            case _ => keepAll
          }
      }
    b => if (b.lo.isEmpty && b.hi.isEmpty) keepAll else byBound(b)
  }

  /** The DECLARED type domain of partition field `i`'s source column
    * — "str" for string, "int" for integrals, None otherwise (or for
    * a pre-schema legacy manifest: conservative keep-all). The parsed
    * domain map is memoized per schema DDL: every pruned read on a
    * truncate or bucket partition reaches here, and a Catalyst parser
    * invocation per query is pure repeated work on an immutable
    * string. */
  private val ddlDomainMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  private def partSourceDomain(m: Manifest, i: Int): Option[String] =
    if (m.schemaDdl.isEmpty) None
    else {
      if (ddlDomainMemo.size > 256) ddlDomainMemo.clear()
      val domains = ddlDomainMemo.computeIfAbsent(m.schemaDdl, ddl =>
        StructType.fromDDL(ddl).fields.flatMap(f => f.dataType match {
          case _: StringType => Some(f.name -> "str")
          case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
            Some(f.name -> "int")
          case _ => None
        }).toMap)
      domains.get(m.partFields(i).source)
    }

  /** One conjunct of a pruned read ([[prune]], [[read]]) or of a
    * predicate-DML condition — the shapes the manifest can PROVE
    * file-exhaustively (the files pruning drops really hold no
    * matching row). */
  sealed trait DmlPred { def column: String }
  /** `column BETWEEN lo AND hi` over a partition or stats column:
    * partition-level pruning through the transform-mapped domain
    * ([[prunePartsBounds]]), per-file min/max otherwise; a
    * TRANSFORMED partition source that is also stats-tracked checks
    * both (day-level partition cut, then per-file ranges). */
  final case class RangePred(column: String, lo: Any, hi: Any) extends DmlPred
  /** `column IN (values)` — equality is the one-value list — over any
    * indexed column: partition value, min/max stats and the per-file
    * BLOOM filter (declared `bloomCols`) together. The bloom is what
    * makes point lookups cheap on columns UNCORRELATED with the file
    * layout: their per-file ranges are near-full-width, while a
    * negative bloom test PROVES absence — an absent key touches no
    * file (up to the documented FP rate). A file is kept iff SOME
    * single value passes the partition, stats and bloom checks
    * together. */
  final case class InPred(column: String, values: Seq[Any]) extends DmlPred {
    require(values.nonEmpty, "snapshot DML: empty IN list")
    require(values.forall(_ != null),
      "snapshot DML: NULL in an IN list never matches — drop it upstream")
  }
  /** A HALF-OPEN (or strict) bound — the shape SQL pushdown and the
    * retention sweep produce (`ts >= cutoff`, `ts < horizon`):
    * strictness-aware, so a boundary-aligned file whose max equals a
    * strict lower bound is provably matchless and skips. At least one
    * side required. */
  final case class BoundPred(column: String, lo: Option[Any], hi: Option[Any],
                             loStrict: Boolean = false,
                             hiStrict: Boolean = false) extends DmlPred {
    require(lo.isDefined || hi.isDefined,
      "snapshot DML: a bound predicate needs at least one side")
    require(lo.forall(_ != null) && hi.forall(_ != null),
      "snapshot DML: a NULL bound never matches — drop it upstream")
  }
  /** SUBSTRING `column LIKE '%needle%'` via the per-file TRIGRAM
    * filter (`3g:<column>` in bloomCols — [[trackTrigram]]): a file
    * holding an occurrence of the needle holds every one of its
    * code-point 3-grams, so any gram the file's filter provably lacks
    * is a proof of absence. Conservative everywhere else: needles
    * under 3 code points have no grams (keep all), files from before
    * tracking carry no filter (keep), and an all-null/all-short file
    * aggregates an EMPTY filter that correctly tests negative for
    * every gram. */
  final case class ContainsPred(column: String, needle: String) extends DmlPred {
    require(needle != null, "snapshot: a NULL needle never matches")
  }
  /** PREFIX `column LIKE 'prefix%'` via per-file min/max stats: every
    * matching value sits in `[prefix, nextPrefix)` under UTF-8 order,
    * so a file whose max < prefix or min >= nextPrefix holds no match.
    * Sound ONLY with the lexicographic comparator on STRING-kind stats
    * — [[admits]]' numeric-when-parseable rule would order a digit
    * prefix numerically ("2" admits "100" but not "21"), so the span
    * check is keyed on the per-file stat KIND (numeric-kind stats keep
    * conservatively; an all-null file never LIKE-matches and skips). */
  final case class PrefixPred(column: String, prefix: String) extends DmlPred {
    require(prefix != null && prefix.nonEmpty,
      "snapshot: an empty prefix matches everything — read plainly")
  }

  /** The smallest string GREATER (UTF-8 order) than every string
    * with prefix `p`: last code point incremented (skipping the
    * surrogate gap — an unpaired surrogate would mangle through
    * UTF-8); max-code-point tails drop and carry; an all-max prefix
    * has no upper bound (None). */
  private[graft] def nextPrefix(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val inc0 = cps(i) + 1
      val inc = if (inc0 >= 0xD800 && inc0 <= 0xDFFF) 0xE000 else inc0
      Some(new String(cps, 0, i) + new String(Array(inc), 0, 1))
    }
  }

  /** One conjunct compiled against one manifest: `rank` orders the
    * per-file checks cheapest first (min/max, bloom, trigram, prefix
    * span), and `inPartition(p)` is None when the conjunct rules out
    * partition `p` whole, else the test each of its files must pass. */
  private final case class Conjunct(rank: Int,
                                    inPartition: String => Option[FileEntry => Boolean])

  private def compile(table: String, m: Manifest, pred: DmlPred): Conjunct = {
    def requireStats(c: String): Unit =
      require(m.statsCols.contains(c),
        s"snapshot $table: no stats tracked for '$c' " +
          s"(tracked: ${m.statsCols.mkString(",")})")
    // the partition-domain test and the min/max file test of one
    // bound on `c`: an identity partition value IS the column value,
    // while a transformed one (or no partition) narrows by per-file
    // stats when the column is tracked
    def bounded(c: String): Bound => (String => Boolean, FileEntry => Boolean) = {
      val fIdx = m.partFields.indexWhere(_.source == c)
      val inParts: Bound => String => Boolean =
        if (fIdx >= 0) prunePartsBounds(m, fIdx) else _ => _ => true
      val byStats = m.statsCols.contains(c) &&
        (fIdx < 0 || !m.partFields(fIdx).isInstanceOf[IdentityField])
      b => {
        val inRange = admits(b)
        (inParts(b), if (byStats) f => f.stats.get(c).forall(inRange) else _ => true)
      }
    }
    def range(c: String, b: Bound): Conjunct = {
      if (!m.partSources.contains(c)) requireStats(c)
      val (inPart, inFile) = bounded(c)(b)
      Conjunct(0, p => if (inPart(p)) Some(inFile) else None)
    }
    pred match {
      case RangePred(c, lo, hi) => range(c, Bound(Some(lo), Some(hi)))
      case BoundPred(c, lo, hi, loStrict, hiStrict) =>
        range(c, Bound(lo, hi, loStrict, hiStrict))
      case InPred(c, values) =>
        val hasBloom = m.bloomCols.contains(c)
        require(m.partSources.contains(c) || m.statsCols.contains(c) || hasBloom,
          s"snapshot $table: no index for '$c' (partition: ${m.partitionLabel}; " +
            s"stats: ${m.statsCols.mkString(",")}; blooms: ${m.bloomCols.mkString(",")})")
        val point = bounded(c)
        val perValue = values.map { v =>
          val (inPart, inStats) = point(Bound(Some(v), Some(v)))
          val s = v.toString
          // missing bloom on a bloom-tracked column = conservative keep
          // (an all-null file aggregates an EMPTY bloom, which correctly
          // tests negative for every value)
          (inPart, (f: FileEntry) => inStats(f) && (!hasBloom ||
            f.blooms.get(c).forall(graft.functions.BloomExprs.mightContain(_, s))))
        }
        Conjunct(1, p => {
          val admitted = perValue.collect { case (inPart, inFile) if inPart(p) => inFile }
          if (admitted.isEmpty) None else Some(f => admitted.exists(_(f)))
        })
      case ContainsPred(c, needle) =>
        val spec = TriPrefix + c
        require(m.bloomCols.contains(spec),
          s"snapshot $table: no trigram index for '$c' (blooms: " +
            s"${m.bloomCols.mkString(",")}) — trackTrigram() + compact() to index")
        // hash the needle's grams ONCE; per file only deserialize + test
        val hs = graft.functions.BloomExprs.substringHashes(needle)
        val inFile: FileEntry => Boolean = f => f.blooms.get(spec).forall(
          graft.functions.BloomExprs.mightContainHashes(_, hs))
        Conjunct(2, _ => Some(inFile))
      case PrefixPred(c, prefix) =>
        requireStats(c)
        val hi = nextPrefix(prefix)
        val inFile: FileEntry => Boolean = f => f.stats.get(c).forall { cs =>
          if (cs.kind != "str") true
          else (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) =>
              cmpUtf8(mx, prefix) >= 0 && hi.forall(h => cmpUtf8(mn, h) < 0)
            case _ => false
          }
        }
        Conjunct(3, _ => Some(inFile))
    }
  }

  /** [[prune]]'s pass over an already-read manifest: every conjunct
    * compiled once, its partition-domain check run once per partition,
    * then one walk over the surviving partitions' files that applies
    * the per-file checks cheapest first. A file is kept only if EVERY
    * conjunct admits it. Kept entries come back in `m.files` order. */
  private[graft] def keptFiles(table: String, m: Manifest,
                               preds: Seq[DmlPred]): Seq[FileEntry] = {
    require(preds.nonEmpty, "snapshot prune needs at least one predicate")
    val conjuncts = preds.map(compile(table, m, _)).sortBy(_.rank)
    m.partitions.iterator.flatMap { case (p, fs) =>
      val tests = conjuncts.map(_.inPartition(p))
      if (tests.exists(_.isEmpty)) Iterator.empty
      else {
        val inFile = tests.flatten
        fs.iterator.filter(f => inFile.forall(_(f)))
      }
    }.toVector
  }

  /** The manifest entries of `version` (latest if 0) that may hold a
    * row matching the CONJUNCTION `preds`, and the version's total
    * file count. Resolves the version and reads the manifest once,
    * then checks every conjunct in one pass ([[keptFiles]]): a file is
    * read only if all of its indexes admit all conjuncts. Under a
    * zorder [[Layout]] the per-file ranges are narrow on every layout
    * key at once, so multi-predicate selectivities multiply
    * (SnapshotSpec quantifies). A conjunct on a column with no usable
    * index refuses, naming what the table tracks. */
  def prune(table: String, preds: Seq[DmlPred],
            version: Int = 0): (Seq[FileEntry], Int) = {
    val m = readManifest(table, if (version > 0) version else currentVersion(table))
    (keptFiles(table, m, preds), m.files.size)
  }

  /** A conjunct as the plain comparison a pruned read filters by (no
    * NULL wrapper, so parquet filter pushdown sees it). */
  private def exactCol(p: DmlPred): Column = p match {
    case RangePred(c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
    case InPred(c, Seq(v)) => col(c) === lit(v)
    case InPred(c, vs) => col(c).isin(vs: _*)
    case BoundPred(c, lo, hi, loStrict, hiStrict) =>
      (lo.map(v => if (loStrict) col(c) > lit(v) else col(c) >= lit(v)).toSeq ++
        hi.map(v => if (hiStrict) col(c) < lit(v) else col(c) <= lit(v)))
        .reduce(_ && _)
    case ContainsPred(c, needle) => col(c).contains(needle)
    case PrefixPred(c, prefix) => col(c).startsWith(prefix)
  }

  /**
   * Pruned read: only the files [[prune]] keeps are handed to the
   * scan, and every conjunct is ALSO applied as a filter, so the
   * result is exact — pruning is an IO optimization, never a
   * semantics change (a bloom or gram false positive is filtered
   * away). Reads the manifest once, as [[prune]] does; zero kept files
   * short-circuit to an empty frame without touching storage.
   */
  def read(spark: SparkSession, table: String, preds: Seq[DmlPred],
           version: Int = 0): DataFrame = {
    val m = readManifest(table, if (version > 0) version else currentVersion(table))
    val kept = keptFiles(table, m, preds)
    val base =
      if (kept.isEmpty) emptyRead(spark, table, m)
      else readManifestFiles(spark, table, m, kept)
    base.filter(preds.map(exactCol).reduce(_ && _))
  }

  /** [[prune]] of `column = value`. Kept only because the benchmark
    * harness (perfbench/src/main/scala/perfbench/Workloads.scala)
    * compiles against it; new callers use [[prune]]. */
  def pruneEq(table: String, column: String, value: Any,
              version: Int = 0): (Seq[FileEntry], Int) =
    prune(table, Seq(InPred(column, Seq(value))), version)

  /** [[read]] of `column = value`. Kept only because the benchmark
    * harness (perfbench/src/main/scala/perfbench/Workloads.scala)
    * compiles against it; new callers use [[read]]. */
  def readWhereEq(spark: SparkSession, table: String, column: String,
                  value: Any, version: Int = 0): DataFrame =
    read(spark, table, Seq(InPred(column, Seq(value))), version)

  /** One [[fsck]] finding: what is wrong with which file. */
  final case class FsckIssue(version: Int, file: String, problem: String)

  /**
   * Integrity audit of the table: for every RETAINED version, check
   * (a) each manifest-referenced file exists on disk with the size the
   * manifest recorded (reads trust that size), (b) the current
   * version's per-file row counts match a recount, and (c) no orphan
   * data files sit under `files/` that no retained manifest references
   * (a crashed writer's droppings — vacuum reclaims them, but an
   * operator should see them first). Returns every finding; an empty
   * list is a clean bill. The recount is one column-pruned scan of the
   * current file set; historical versions get the existence check only
   * (their bytes are immutable — if the file is there, it is right).
   */
  def fsck(spark: SparkSession, table: String): Seq[FsckIssue] = {
    val cur = currentVersion(table)
    require(cur > 0, s"snapshot $table does not exist")
    val st = store(table)
    val issues = Seq.newBuilder[FsckIssue]
    val retained = (1 to cur).filter(v => st.exists(manifestPath(table, v)))
    val referenced = scala.collection.mutable.Set[String]()
    val dvReferenced = scala.collection.mutable.Set[String]()
    val segReferenced = scala.collection.mutable.Set[String]()
    // an UNREADABLE manifest (lost segment file, truncated JSON) is a
    // FINDING, not a crash — the audit must outlive the damage it
    // exists to report; later checks skip the unreadable version
    val readable = scala.collection.mutable.Map[Int, Manifest]()
    retained.foreach { v =>
      try readable(v) = readManifest(table, v)
      catch { case e: Exception =>
        issues += FsckIssue(v, f"_log/v$v%08d.json",
          s"manifest unreadable: ${e.getMessage}")
      }
    }
    // what is wrong on disk with a referenced file, if anything; each
    // path is stat-ed once however many versions carry it
    val onDisk = scala.collection.mutable.Map[String, Option[Long]]()
    def diskProblem(f: FileEntry): Option[String] =
      onDisk.getOrElseUpdate(f.path, {
        val p = s"$table/${f.path}"
        if (st.exists(p)) Some(st.size(p)) else None
      }) match {
        case None => Some("missing on disk")
        case Some(sz) if f.bytes > 0 && sz != f.bytes =>
          Some(s"size $sz != manifest ${f.bytes}")
        case _ => None
      }
    retained.flatMap(v => readable.get(v).map(v -> _)).foreach { case (v, m) =>
      segReferenced ++= m.segRefs.values.map(_.path)
      segReferenced ++= m.listShards.values.map(_.path)
      m.files.foreach { f =>
        referenced += f.path
        diskProblem(f).foreach(p => issues += FsckIssue(v, f.path, p))
        f.dv.foreach { d =>
          dvReferenced += d.path + "/"
          if (!st.isDirectory(s"$table/${d.path}"))
            issues += FsckIssue(v, d.path, "deletion vector dir missing on disk")
        }
      }
    }
    // ORPHAN findings require the COMPLETE reference set: with any
    // manifest unreadable, an artifact could be referenced by exactly
    // the version we cannot parse — reporting it as an orphan would
    // invite deleting a recoverable file, so the orphan audits are
    // SKIPPED (with a visible finding) until the log is repaired
    val allReadable = readable.size == retained.size
    if (!allReadable)
      issues += FsckIssue(0, "_log",
        s"orphan audit skipped: ${retained.size - readable.size} " +
          "unreadable manifest(s) — their references are unknowable")
    // orphan segment files: a crashed writer's droppings (vacuum
    // reclaims them; the operator should see them first, like orphan
    // data files)
    val segDir = s"${logDir(table)}/seg"
    if (allReadable && st.isDirectory(segDir)) st.list(segDir).foreach {
      case (n, false) if !segReferenced.contains(s"seg/$n") =>
        issues += FsckIssue(0, s"_log/seg/$n",
          "orphan segment (no retained version references it)")
      case _ => ()
    }
    // recount the CURRENT version — PHYSICAL rows (applyDv = false:
    // manifest row counts are physical; the dv mask is audited below)
    // — only when its manifest parsed; the orphan/staging audits
    // below run regardless (gated on allReadable where they need the
    // complete reference set)
    val recountable = readable.contains(cur)
    val m = if (recountable) readable(cur)
      else Manifest(cur, 0, "unreadable", Nil, Nil, Nil, Map.empty)
    // (a read at a wrong recorded size misparses the footer, so a
    // size finding skips the recount like a missing file does)
    if (m.files.nonEmpty && m.files.forall(diskProblem(_).isEmpty)) {
      val counted = readManifestFiles(spark, table, m, applyDv = false)
        .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getAs[String]("f") -> r.getAs[Long]("n")).toMap
      m.files.foreach { f =>
        val n = counted.collectFirst {
          case (path, c) if path.endsWith(f.path) => c }.getOrElse(0L)
        if (n != f.rows)
          issues += FsckIssue(cur, f.path, s"row count $n != manifest ${f.rows}")
      }
      // audit the dv mask PER VECTOR DIR (an older dir may hold a
      // subset of a file's positions yet stay live via another file's
      // reference — only a file's OWN dir is authoritative for it):
      // position count must match the manifest, positions must be
      // distinct and in range
      m.files.filter(f => f.dv.isDefined &&
          st.isDirectory(s"$table/${f.dv.get.path}"))
        .groupBy(_.dv.get.path).foreach { case (dir, fs) =>
          val audit = spark.read.parquet(s"$table/$dir")
            .groupBy("file").agg(count(lit(1)).as("n"),
              countDistinct(col("pos")).as("nd"),
              min("pos").as("lo"), max("pos").as("hi"))
            .collect().map(r => r.getAs[String]("file") ->
              (r.getAs[Long]("n"), r.getAs[Long]("nd"),
               r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
          fs.foreach { f =>
            audit.get(f.path) match {
              case Some((n, nd, lo, hi)) =>
                if (nd != f.dv.get.rows)
                  issues += FsckIssue(cur, f.path,
                    s"dv position count $nd != manifest ${f.dv.get.rows}")
                if (n != nd)
                  issues += FsckIssue(cur, f.path, "dv holds duplicate positions")
                if (lo < 0 || hi >= f.rows)
                  issues += FsckIssue(cur, f.path,
                    s"dv position out of range [$lo,$hi] for ${f.rows} rows")
              case None =>
                issues += FsckIssue(cur, f.path,
                  s"dv references ${f.dv.get.rows} rows but vector holds none")
            }
          }
        }
    }
    // orphans: data files no retained manifest references. Files under
    // a _staging- dir are an optimistic commit in flight (or a crashed
    // writer's droppings) — reported as one issue per stage, not as
    // per-file orphans
    val filesRoot = s"$table/files"
    if (st.isDirectory(filesRoot)) {
      if (allReadable) st.walkFiles(filesRoot)
        .filter { rel =>
          val n = rel.substring(rel.lastIndexOf('/') + 1)
          !n.startsWith("_") && !n.startsWith(".")
        }
        .map("files/" + _)
        .filterNot(referenced.contains)
        .filterNot(p => dvReferenced.exists(p.startsWith))
        .filterNot(_.contains("/_staging-"))
        .foreach(p => issues += FsckIssue(0, p, "orphan (no retained version references it)"))
      st.list(filesRoot).foreach {
        case (n, true) if n.startsWith("_staging-") =>
          issues += FsckIssue(0, s"files/$n",
            "staging dir (optimistic commit in flight, or abandoned — vacuum reaps after staleness)")
        case _ => ()
      }
    }
    issues.result()
  }

  /** Connector read entry: `version`'s frame restricted to `only`
    * manifest entries (all when null) — the same DV-masked,
    * column-mapped, manifest-schema scan [[readAt]] produces. */
  private[graft] def readEntries(spark: SparkSession, table: String,
                                 version: Int,
                                 only: Seq[FileEntry]): DataFrame = {
    val m = readManifest(table, version)
    if (only != null && only.isEmpty) emptyRead(spark, table, m)
    else readManifestFiles(spark, table, m, only)
  }

  // ------------------------------------------------------- change feed

  /**
   * The CHANGE SET of one commit, computed from the manifests alone:
   * `(removedRows, addedRows)` where removed = rows of files the
   * parent referenced that `version` no longer does, added = rows of
   * files new in `version`. File paths are immutable and unique per
   * commit, so the set diff is exact — a carried-forward file appears
   * in NEITHER side (nothing is read for the untouched mass; the
   * change set is bounded by the commit's copy-on-write footprint,
   * never the table). For ALGEBRAIC consumers (count/sum maintenance,
   * sketch unions) subtract-removed + add-added applied in version
   * order reproduces any one-shot recompute exactly; rows rewritten
   * unchanged (the other rows of a rewritten file) cancel between the
   * two sides. A `compact` commit's change set is nonzero but nets to
   * zero by the same cancellation (rows identical by contract) —
   * consumers may skip it by op. Requires the parent version's files
   * to still exist: vacuum retention must cover follower lag.
   *
   * Each side reads under ITS version's manifest schema, so a
   * follower straddling an additive schema evolution sees old rows
   * null-filled exactly as readers of that version did.
   */
  def changeSet(spark: SparkSession, table: String,
                version: Int): (DataFrame, DataFrame) = {
    val m = readManifest(table, version)
    val empty = emptyRead(spark, table, m)
    if (m.parent <= 0) (empty, readManifestFiles(spark, table, m))
    else {
      require(store(table).exists(manifestPath(table, m.parent)),
        s"snapshot $table: parent v${m.parent} was vacuumed — change set " +
          "unrecoverable (raise vacuum retention above follower lag)")
      // diff by (path, dv) identity: a merge-on-read DELETE changes no
      // file paths but DOES change visible rows — its touched entries
      // land on both sides (removed = parent-visible rows, added =
      // now-visible rows; the surviving rows cancel algebraically,
      // exactly like a copy-on-write rewrite's unchanged rows)
      val mP = readManifest(table, m.parent)
      val pIdent = mP.files.map(entryIdent).toSet
      val cIdent = m.files.map(entryIdent).toSet
      val removed = mP.files.filterNot(f => cIdent.contains(entryIdent(f)))
      val added = m.files.filterNot(f => pIdent.contains(entryIdent(f)))
      (if (removed.isEmpty) emptyRead(spark, table, mP)
       else readManifestFiles(spark, table, mP, removed),
       if (added.isEmpty) empty
       else readManifestFiles(spark, table, m, added))
    }
  }

  /** GROSS row count of a commit's change set — |parent-visible rows
    * of removed entries| + |now-visible rows of added entries| —
    * computed from the two manifests alone (zero data IO). This is
    * the work a change-feed consumer pays to process the version, so
    * it is what a rows-based stream rate limit budgets by. Versions
    * whose parent was vacuumed report their own logical rows (the
    * feed itself will error with the clear vacuum message). */
  private[graft] def changeRowCount(table: String, version: Int): Long = {
    val m = readManifest(table, version)
    def visible(fs: Seq[FileEntry]): Long =
      fs.map(f => f.rows - f.dv.map(_.rows).getOrElse(0L)).sum
    if (m.parent <= 0 || !store(table).exists(manifestPath(table, m.parent)))
      m.logicalRows
    else {
      val mP = readManifest(table, m.parent)
      val pIdent = mP.files.map(entryIdent).toSet
      val cIdent = m.files.map(entryIdent).toSet
      visible(mP.files.filterNot(f => cIdent.contains(entryIdent(f)))) +
        visible(m.files.filterNot(f => pIdent.contains(entryIdent(f))))
    }
  }

  // ------------------------------------------------------ predicate DML

  private def toDml(preds: Seq[(String, Any, Any)]): Seq[DmlPred] =
    preds.map { case (c, lo, hi) => RangePred(c, lo, hi) }

  /** The conjunction of DML predicates as a Column (NULL-safe: a
    * NULL operand makes the predicate false — SQL DML semantics, a
    * NULL never matches `BETWEEN` or `IN`, also under the NOT a
    * delete filters by). */
  private def predCol(preds: Seq[DmlPred]): Column =
    preds.map(p => coalesce(exactCol(p), lit(false))).reduce(_ && _)

  /** Shared commit machinery of [[deleteWhere]] and [[updateWhere]]:
    * rewrite ONLY the candidate files through `transform`, carry every
    * other file forward verbatim, publish as one atomic version. */
  private def rewriteFiles(spark: SparkSession, table: String, op: String,
                           preds: Seq[DmlPred],
                           transform: DataFrame => DataFrame): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      val candidates = keptFiles(table, m, preds)
      val v = cur + 1
      if (candidates.isEmpty) { // proven no-match: audit-only commit
        writeManifest(table, m.copy(version = v, parent = cur, op = op,
          delivery = Some(KeyBounds(empty = true, Map.empty))))
        CommitStats(v, Nil, Nil, 0)
      } else {
      val candPaths = candidates.map(_.path).toSet
      val base = readManifestFiles(spark, table, m, candidates)
      val out = transform(base)
      require(out.schema.map(f => (f.name, f.dataType)) ==
        base.schema.map(f => (f.name, f.dataType)),
        s"snapshot $op: transform must preserve the table schema")
      // check ALL rewritten rows: an UPDATE may move a predicate
      // column, so filtering `out` by the (pre-update) predicate could
      // miss updated rows; unchanged rows re-pass trivially and the
      // cost is bounded by candidate mass
      enforceConstraints(out, m.constraints)
      val written = writeCommit(out, table, v, m.partitionCols, m.keys, m.layout,
        m.columnMap)
      val fresh = commitEntries(spark, table, v, written, m.statsCols,
        m.bloomCols, m.bloomBits, m.bloomK, m.hllCols, m.hllP)
      // per partition: carried (non-candidate) files ++ replacement files
      val touched = m.partitions.collect {
        case (p, fs) if fs.exists(f => candPaths.contains(f.path)) => p }.toSet
      val parts = (m.partitions.keySet ++ fresh.keySet).flatMap { p =>
        val carried = m.partitions.getOrElse(p, Nil)
          .filterNot(f => candPaths.contains(f.path))
        val files = carried ++ fresh.getOrElse(p, Nil)
        if (files.isEmpty) None else Some(p -> files)
      }.toMap
      val dropped = m.partitions.keySet.filterNot(parts.contains).toSeq.sorted
      writeManifestReclaiming(table, m.copy(version = v, parent = cur, op = op,
        partitions = parts,
        delivery = Some(KeyBounds(empty = true, Map.empty))))
      CommitStats(v, touched.toSeq.sorted, dropped,
        fresh.values.map(_.size).sum)
      }
    }

  /**
   * `DELETE FROM table WHERE <conjunction of range predicates>` as a
   * copy-on-write commit at FILE granularity: [[prune]] names the
   * files whose stats admit the predicate; ONLY those are rewritten
   * (minus the matching rows — NULL predicate rows survive, SQL
   * semantics); every other file carries forward verbatim in the new
   * manifest, bytes untouched. The delete-side companion of
   * [[merge]]'s keyed deletes: a retention sweep (`ts < cutoff`) or a
   * source purge rewrites the matching slice of a 100 TB table, not
   * the table — and under a range/zorder [[Layout]] the matching
   * slice is few files. Time travel, rollback and vacuum apply as to
   * any commit. Predicates are restricted to partition/stats columns
   * (the manifest must be able to PROVE the untouched files really
   * have no matching rows).
   */
  def deleteWhere(spark: SparkSession, table: String,
                  preds: Seq[(String, Any, Any)]): CommitStats =
    deleteMatching(spark, table, toDml(preds))

  /** [[deleteWhere]] over the full DML conjunct forms — ranges AND
    * IN lists (`WHERE key IN (…)`, the erasure-batch shape, prunes
    * through the point-lookup stack: an absent key costs no IO). */
  def deleteMatching(spark: SparkSession, table: String,
                     preds: Seq[DmlPred]): CommitStats =
    rewriteFiles(spark, table, "delete", preds,
      df => df.filter(!predCol(preds)))

  /**
   * `UPDATE table SET col = expr, ... WHERE <conjunction of range
   * predicates>` as a copy-on-write commit at file granularity (same
   * pruned-rewrite machinery as [[deleteWhere]]; non-matching rows in
   * a candidate file are rewritten unchanged). `set` expressions may
   * reference any table column (the PRE-update values, standard SQL
   * UPDATE). The key and partition column cannot be updated — moving
   * a row between partitions or rekeying it is a [[merge]]. CHECK
   * constraints gate the updated rows.
   */
  def updateWhere(spark: SparkSession, table: String,
                  preds: Seq[(String, Any, Any)],
                  set: Map[String, Column]): CommitStats =
    updateMatching(spark, table, toDml(preds), set)

  /** [[updateWhere]] over the full DML conjunct forms (ranges + IN). */
  def updateMatching(spark: SparkSession, table: String,
                     preds: Seq[DmlPred],
                     set: Map[String, Column]): CommitStats = {
    require(set.nonEmpty, "updateWhere: empty SET")
    val m = readManifest(table, currentVersion(table))
    set.keys.foreach { c =>
      require(!m.keys.contains(c) && !m.partSources.contains(c),
        s"updateWhere: cannot update key/partition column '$c' — use merge")
    }
    rewriteFiles(spark, table, "update", preds, { df =>
      set.keys.foreach(c => require(df.columns.contains(c),
        s"updateWhere: unknown column '$c'"))
      val p = predCol(preds)
      df.select(df.columns.map { c =>
        set.get(c) match {
          case Some(e) => when(p, e.cast(df.schema(c).dataType))
            .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    })
  }

  // ------------------------------------------- merge-on-read deletes

  /**
   * [[deleteWhere]] WITHOUT rewriting a single data file — the
   * MERGE-ON-READ delete (Delta deletion vectors / Iceberg position
   * deletes, rebuilt on the manifest): the commit writes only a
   * DELETION VECTOR — a parquet of `(file, pos)` row positions
   * matching the predicate in the candidate files — and re-points
   * those files' manifest entries at it. Reads apply the vector as an
   * anti-join on `(file, _metadata.row_index)`; [[compact]]
   * materializes it away (rows physically dropped, vectors cleared).
   *
   * The copy-on-write / merge-on-read trade at 100 TB: [[deleteWhere]]
   * rewrites every candidate file's full bytes (write cost ∝ candidate
   * mass, zero read-side cost); this writes bytes ∝ DELETED ROW COUNT
   * (8+8 bytes a row, not the row's payload) and charges reads a
   * bounded anti-join until the next compact. A trickle of small
   * deletes (GDPR erasure, retention nibbling at non-aligned
   * predicates) is exactly where rewriting terabytes to drop kilobytes
   * is wrong. Positions only accumulate: a later vector for a file is
   * a superset of the earlier one, so vector unions are always safe.
   *
   * Same predicate contract as [[deleteWhere]] (conjunction of range
   * predicates on partition/stats columns, NULL never matches);
   * identical result, spec-asserted. Time travel / rollback / vacuum /
   * the change feed all see MoR commits like any other (the feed emits
   * the touched files' parent-visible vs now-visible rows; survivors
   * cancel).
   */
  def deleteWhereMor(spark: SparkSession, table: String,
                     preds: Seq[(String, Any, Any)]): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      val dml = toDml(preds)
      commitDv(spark, table, m, keptFiles(table, m, dml),
        raw => raw.filter(predCol(dml)))
    }

  /**
   * The ERASURE-REQUEST delete: mask every row whose key is in `keys`
   * (a frame carrying the table's key column), as one merge-on-read
   * commit — zero data files rewritten, cost ∝ |keys| + one key-pruned
   * scan of the files that MIGHT hold them. A bounded key list (the
   * usual GDPR batch) collects driver-side and prunes through the
   * manifest's per-file key stats AND blooms — an absent key costs no
   * data-file IO at all; past `maxPrunableKeys` the scan falls back to
   * every file (the semi-join is still one pass). The keyed companion
   * of [[deleteWhereMor]], and the MoR alternative to [[merge]]'s
   * copy-on-write deleteKeys.
   */
  def deleteMorKeys(spark: SparkSession, table: String, keys: DataFrame,
                    maxPrunableKeys: Int = 10000): CommitStats =
    withCommitLock(table) {
      val cur = currentVersion(table)
      require(cur > 0, s"snapshot $table does not exist")
      val m = readManifest(table, cur)
      m.keys.foreach(kc => require(keys.columns.contains(kc),
        s"snapshot $table: keys frame lacks key column '$kc'"))
      val k = OpCache.cache(keys.select(m.keys.map(col): _*).distinct())
      val sample = k.limit(maxPrunableKeys + 1).collect()
      val candidates =
        if (sample.isEmpty) Nil // no keys: audit-only commit
        else if (sample.length <= maxPrunableKeys) {
          // composite keys prune as one IN conjunct per COLUMN: a file
          // can hold a listed key tuple only if every column's value
          // set admits it — each column's own index (stats/bloom)
          // applies, and the conjunction stays a sound candidate superset
          keptFiles(table, m, m.keys.zipWithIndex.map { case (kc, i) =>
            InPred(kc, sample.map(_.get(i)).distinct.toSeq) })
        } else m.files
      val out = commitDv(spark, table, m, candidates,
        raw => raw.join(k, m.keys, "left_semi"))
      OpCache.unpersistEager(k)
      out
    }

  /** Shared tail of the merge-on-read deletes: write the deletion
    * vector for `matching(candidates)` ∪ the candidates' prior
    * vectors, re-point the touched entries, publish the commit. */
  private def commitDv(spark: SparkSession, table: String, m: Manifest,
                       candidates: Seq[FileEntry],
                       matching: DataFrame => DataFrame): CommitStats = {
    val cur = m.version
    val v = cur + 1
    if (candidates.isEmpty) { // proven no-match: audit-only commit
      writeManifest(table, m.copy(version = v, parent = cur, op = "delete-mor",
        delivery = Some(KeyBounds(empty = true, Map.empty))))
      CommitStats(v, Nil, Nil, 0)
    } else {
      // raw read (applyDv = false): an already-masked row may match
      // again; the union with the prior vectors dedups it. Project the
      // metadata columns BEFORE `matching` runs — `_metadata` resolves
      // only against the file-source relation (a join output loses it)
      val raw = readManifestFiles(spark, table, m, candidates, applyDv = false)
        .withColumn("__dv_f", relFileCol)
        .withColumn("__dv_p", col("_metadata.row_index"))
      val fresh = matching(raw)
        .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
      val priorDirs = candidates.flatMap(_.dv).map(_.path).distinct
      val prior =
        if (priorDirs.isEmpty) fresh.limit(0)
        else {
          // carried positions restricted to candidate files via a
          // semi-join (an isin over a 100k-file manifest would bloat
          // the plan; the path frame broadcasts)
          import spark.implicits._
          val candFrame = candidates.map(_.path).toDF("file")
          readDv(spark, table, priorDirs)
            .join(broadcast(candFrame), Seq("file"), "left_semi")
            .select("file", "pos")
        }
      val dvDir = f"files/c$v%08d/_dv"
      fresh.unionByName(prior).distinct()
        .write.mode("error").parquet(s"$table/$dvDir")
      // bounded collect: one row per candidate file
      val counts = readDv(spark, table, Seq(dvDir))
        .groupBy("file").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getAs[String]("file") -> r.getAs[Long]("n")).toMap
      val candSet = candidates.map(_.path).toSet
      require(counts.keySet.forall(candSet.contains),
        s"snapshot $table: deletion vector names non-candidate file(s) " +
          s"${counts.keySet.diff(candSet).take(3).mkString(",")} — " +
          "path relativization failed")
      val parts = m.partitions.map { case (p, fs) =>
        p -> fs.map { f =>
          counts.get(f.path) match {
            case Some(n) => f.copy(dv = Some(DvRef(dvDir, n)))
            case None => f // no matches and no prior vector: untouched
          }
        }
      }
      val touched = m.partitions.collect {
        case (p, fs) if fs.exists(f => counts.contains(f.path)) => p }
      writeManifestReclaiming(table, m.copy(version = v, parent = cur,
        op = "delete-mor", partitions = parts,
        delivery = Some(KeyBounds(empty = true, Map.empty))))
      CommitStats(v, touched.toSeq.sorted, Nil, 0)
    }
  }

  // ------------------------------------------------------------- tags

  private def refsPath(table: String): String = s"${logDir(table)}/refs.json"

  /** Named version refs: `{tag -> version}` from `_log/refs.json`.
    * Lock-free read with ONE bounded retry: `putReplace` is
    * reader-atomic on both built-in stores, but a custom store may
    * fall back to delete-then-rename, whose transient missing-dst
    * window would otherwise read as "no tags" — a second look after
    * a short pause distinguishes "mid-replace" from "never tagged"
    * (a fresh table reads absent twice and stays Map.empty). */
  def tags(table: String): Map[String, Int] = {
    val st = store(table)
    val p = refsPath(table)
    def readOnce(): Option[Map[String, Int]] =
      if (!st.exists(p)) None
      else Some(mapper.readTree(st.read(p)).properties().asScala
        .map(e => e.getKey -> e.getValue.asInt()).toMap)
    readOnce().orElse {
      // writeTags only runs under the commit lock, so a missing refs
      // file is mid-replace ONLY while the lock is held — the common
      // never-tagged read stays a single exists() with no pause
      if (st.exists(lockFile(table))) { Thread.sleep(20); readOnce() }
      else None
    }.getOrElse(Map.empty)
  }

  private def writeTags(table: String, t: Map[String, Int]): Unit = {
    val root = mapper.createObjectNode()
    t.toSeq.sortBy(_._1).foreach { case (n, v) => root.put(n, v) }
    store(table).putReplace(refsPath(table),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  /**
   * TAG a version (default: the current one) with a name — "pin the
   * corpus this training run read". A tagged version is PROTECTED:
   * [[vacuum]] retains its manifest and files however far the
   * retention window moves past it, so `readTag` reproduces the run's
   * exact input years later at zero storage cost beyond the delta the
   * tag pins (the manifest answer to "copy the table for
   * reproducibility"). Tags are O(1) metadata — create, move and
   * drop never touch data files. Re-tagging an existing name moves it
   * (the git-tag -f shape); [[untag]] releases the pin, after which
   * the next vacuum may reclaim the version.
   */
  def tag(table: String, name: String, version: Int = 0): Unit =
    withCommitLock(table) {
      require(name.matches("[A-Za-z0-9._-]+"),
        s"snapshot tag: bad name '$name' (want [A-Za-z0-9._-]+)")
      val v = if (version > 0) version else currentVersion(table)
      require(store(table).exists(manifestPath(table, v)),
        s"snapshot $table: cannot tag v$v — no such retained version")
      writeTags(table, tags(table) + (name -> v))
    }

  def untag(table: String, name: String): Unit =
    withCommitLock(table) {
      val t = tags(table)
      require(t.contains(name), s"snapshot $table: no tag '$name'")
      writeTags(table, t - name)
    }

  /** The table as of the tagged version. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val t = tags(table)
    require(t.contains(name),
      s"snapshot $table: no tag '$name' (tags: ${t.keys.toSeq.sorted.mkString(",")})")
    readAt(spark, table, t(name))
  }

  /** A retained version's recorded [[KeyBounds]] (`delivery_bounds`),
    * or None when absent/unknown/unreadable — STREAM-parsed from the
    * manifest root like [[committedAt]]: the field precedes the
    * partitions blob, so the parse never materializes the inventory
    * and never touches shard/segment files. Called per intervening
    * version by [[commitStaged]]'s rebase fast path, under the commit
    * lock — a full [[readManifest]] there would fan out the whole
    * metadata tree to save a 2 s probe. A vacuumed version reads as
    * None (unknown → exact probe). */
  private[graft] def deliveryBoundsOf(table: String, version: Int): Option[KeyBounds] = {
    // memo first: bounds are immutable per (table, version) within a
    // table incarnation, and the caller (commitStaged) validated the
    // incarnation epoch before the walk — a hit is a pure map read
    val memoed = deliveryMemo.get((table, version))
    if (memoed != null) return memoed
    parseDeliveryBounds(table, version) match {
      case Some(parsed) => // manifest present: bounds-or-unknown is an
        memoDelivery(table, version, parsed) // immutable fact — memoize
        parsed
      case None => None // missing/unreadable: NOT memoized — a
        // not-yet-visible or vacuumed version is not an immutable fact
    }
  }

  /** Outer None = manifest absent/unreadable; Some(inner) = manifest
    * read, inner its bounds (None = the unknown-delivery shape). */
  private def parseDeliveryBounds(table: String,
                                  version: Int): Option[Option[KeyBounds]] =
    try {
      val st = store(table)
      val p = manifestPath(table, version)
      if (!st.exists(p)) return None
      val jp = mapper.getFactory.createParser(st.read(p))
      try {
        var depth = 0
        while (jp.nextToken() != null) {
          val t = jp.currentToken()
          if (t.isStructStart) depth += 1
          else if (t.isStructEnd) depth -= 1
          else if (depth == 1 &&
              t == com.fasterxml.jackson.core.JsonToken.FIELD_NAME) {
            val name = jp.currentName()
            if (name == "delivery_bounds") {
              jp.nextToken()
              val dn: JsonNode = mapper.readTree(jp)
              val bounds = dn.properties().asScala.map { e =>
                val v = e.getValue
                e.getKey -> ColStats(v.get("kind").asText(),
                  Option(v.get("min")).map(_.asText()),
                  Option(v.get("max")).map(_.asText()), 0L)
              }.toMap
              return Some(Some(KeyBounds(bounds.isEmpty, bounds)))
            }
            if (name == "partitions" || name == "partition_shards")
              return Some(None) // field order puts delivery first; absent
            jp.nextToken()
            jp.skipChildren()
          }
        }
        Some(None)
      } finally jp.close()
    } catch { case _: Exception => None } // unreadable → exact probe

  /** Commit instant (epoch millis) of a retained version — 0 for
    * manifests written before the field existed. STREAM-parsed: the
    * field sits at the head of the manifest (third field written), so
    * the parser stops after a few tokens instead of materializing the
    * full inventory tree — the age-based vacuum/expire sweeps call
    * this once per version, and a large inline manifest must not cost
    * a full parse per timestamp. */
  def committedAt(table: String, version: Int): Long = {
    val st = store(table)
    val p = manifestPath(table, version)
    require(st.exists(p), s"snapshot $table: no retained version v$version")
    val jp = mapper.getFactory.createParser(st.read(p))
    try {
      var depth = 0
      while (jp.nextToken() != null) {
        val t = jp.currentToken()
        if (t.isStructStart) depth += 1
        else if (t.isStructEnd) depth -= 1
        else if (depth == 1 &&
            t == com.fasterxml.jackson.core.JsonToken.FIELD_NAME &&
            jp.currentName() == "committed_at") {
          jp.nextToken()
          return jp.getLongValue
        }
      }
      0L
    } finally jp.close()
  }

  /** Latest version committed AT OR BEFORE the instant — the
    * `timestampAsOf` axis every table format pairs with version
    * travel ("what did the table hold when the run started?").
    * Pre-field manifests (committed_at 0) are always eligible, so
    * old tables resolve to their newest pre-field version rather
    * than erroring. */
  def versionAtTime(table: String, tsMillis: Long): Int = {
    val cur = currentVersion(table)
    require(cur > 0, s"snapshot $table does not exist")
    val at = (1 to cur)
      .filter(v => store(table).exists(manifestPath(table, v)))
      .filter(v => committedAt(table, v) <= tsMillis)
    require(at.nonEmpty,
      s"snapshot $table: no version committed at or before $tsMillis " +
        s"(earliest retained: ${(1 to cur).find(v => store(table).exists(manifestPath(table, v)))
          .map(v => committedAt(table, v)).getOrElse(-1L)})")
    at.max
  }

  /** The table as of a wall-clock instant (epoch millis). */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readAt(spark, table, versionAtTime(table, tsMillis))

  /** Parse a user-supplied commit instant: epoch millis, a
    * zone-qualified ISO-8601 timestamp ("2026-08-15T06:00:00Z",
    * "…+02:00" — the offset is honored), or a zone-less timestamp
    * string ("2026-08-15 06:00:00[.SSS]", 'T' separator accepted)
    * interpreted as UTC — NEVER the JVM-default zone, so the same
    * option string resolves to the same version on every host. UTC
    * matches the project's pinned `spark.sql.session.timeZone` and
    * the `committed_at` instants themselves (epoch millis are
    * zone-free). Unparseable input fails with a graft error naming
    * the accepted formats, not a raw DateTimeParseException. */
  def parseInstantMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("\\d+")) return t.toLong
    val iso = t.replace(' ', 'T')
    scala.util.Try(java.time.OffsetDateTime.parse(iso).toInstant)
      .orElse(scala.util.Try(java.time.LocalDateTime.parse(iso)
        .toInstant(java.time.ZoneOffset.UTC)))
      .getOrElse(throw new IllegalArgumentException(
        s"graft: cannot parse instant '$s' — accepted: epoch millis, " +
          "'yyyy-MM-dd HH:mm:ss[.SSS]' (read as UTC), or ISO-8601 with " +
          "an explicit offset ('2026-08-15T06:00:00Z', '…+02:00')"))
      .toEpochMilli
  }

  // --------------------------------------- manifest-only aggregates

  /**
   * `SELECT count(*), count(c), min(c), max(c) ...` answered from the
   * MANIFEST: per-file row counts, null counts and min/max stats fold
   * driver-side into the exact global aggregate — zero data files
   * opened, however large the table. The 100 TB shape: the same
   * question as a full scan + exchange, at O(manifest) cost (every
   * table format's `count(*)` fast path, generalized to the tracked
   * stats columns).
   *
   * Files masked by a deletion vector can't prove their stats (the
   * min row may be deleted), so they — and only they — are scanned
   * (dv-applied) and combined with the manifest partials of the clean
   * files; [[compact]] returns the table to the pure-manifest path.
   * Exact by round-trip: stats strings are Spark's own
   * `cast(min(c) as string)` renderings, and casting a value's
   * rendering back to its type is the identity for the tracked kinds
   * (Spark renders floating point via shortest-round-trip
   * `Double.toString`).
   *
   * Returns one row: `n_rows` plus, per requested column `c`,
   * `n_<c>` (non-null count), `min_<c>`, `max_<c>` in the table's
   * column type — and `sum_<c>` (long) for each column in `sums`
   * (integral columns only: per-file sums fold associatively and
   * exactly, which float/double addition cannot promise).
   */
  def aggStats(spark: SparkSession, table: String, cols: Seq[String],
               version: Int = 0, sums: Seq[String] = Nil,
               distincts: Seq[String] = Nil): DataFrame = {
    val v = if (version > 0) version else currentVersion(table)
    val m = readManifest(table, v)
    require(m.schemaDdl.nonEmpty, s"snapshot $table: no schema recorded")
    val schema = StructType.fromDDL(m.schemaDdl)
    cols.foreach(c => require(m.statsCols.contains(c),
      s"snapshot $table: no stats tracked for '$c' " +
        s"(tracked: ${m.statsCols.mkString(",")})"))
    val (dirty, clean) = m.files.partition(_.dv.isDefined)
    // SUM columns: integral only, and every clean file must carry the
    // sum stat (an all-null file contributes 0) — a legacy manifest
    // predating sum tracking must recommit/compact first
    sums.foreach { c =>
      require(cols.contains(c), s"aggStats: sum column '$c' must also be in cols")
      require(sumTracked(schema(c).dataType),
        s"snapshot $table: SUM is tracked for integral columns only " +
          s"('$c' is ${schema(c).dataType.simpleString}; float/double sums " +
          "are order-dependent and cannot promise scan equality)")
      clean.foreach(f => require(
        f.stats.get(c).exists(cs => cs.sum.isDefined || cs.nulls == f.rows),
        s"snapshot $table: file ${f.path} predates sum tracking for '$c' — " +
          "compact() once to record it"))
    }

    def castStat(c: String, s: String): Column = lit(s).cast(schema(c).dataType)
    // driver fold of the clean files' stats (no IO): num compares as
    // BigDecimal, str lexicographically — the winning RENDERING is
    // kept and cast once, so no value survives a double re-render
    def foldMin(c: String): Option[String] = {
      val xs = clean.flatMap(_.stats.get(c)).filter(_.min.isDefined)
      if (xs.isEmpty) None
      else if (xs.head.kind == "num")
        Some(xs.map(cs => cs.min.get).minBy(BigDecimal(_)))
      else Some(xs.map(_.min.get).min(utf8Ordering))
    }
    def foldMax(c: String): Option[String] = {
      val xs = clean.flatMap(_.stats.get(c)).filter(_.max.isDefined)
      if (xs.isEmpty) None
      else if (xs.head.kind == "num")
        Some(xs.map(cs => cs.max.get).maxBy(BigDecimal(_)))
      else Some(xs.map(_.max.get).max(utf8Ordering))
    }

    val sumSet = sums.toSet
    val partialCols = Seq("n_rows") ++ cols.flatMap(c =>
      Seq(s"n_$c", s"min_$c", s"max_$c") ++
        (if (sumSet(c)) Seq(s"sum_$c") else Nil))
    val manifestPartial: Option[DataFrame] =
      if (clean.isEmpty) None
      else {
        val rows = clean.map(_.rows).sum
        val lits = lit(rows).as("n_rows") +: cols.flatMap { c =>
          val nulls = clean.map(_.stats.get(c).map(_.nulls).getOrElse(0L)).sum
          Seq(lit(rows - nulls).as(s"n_$c"),
            foldMin(c).map(castStat(c, _)).getOrElse(
              lit(null).cast(schema(c).dataType)).as(s"min_$c"),
            foldMax(c).map(castStat(c, _)).getOrElse(
              lit(null).cast(schema(c).dataType)).as(s"max_$c")) ++
            (if (sumSet(c)) {
              // exact driver fold: per-file sum strings add as
              // BigDecimal; zero contributions (every clean file
              // all-null) is SQL's NULL sum, not 0
              val contribs = clean.flatMap(_.stats.get(c).flatMap(_.sum))
              Seq((if (contribs.isEmpty) lit(null).cast("long")
                   else lit(contribs.map(BigDecimal(_)).sum.toString)
                     .cast("long")).as(s"sum_$c"))
            } else Nil)
        }
        Some(spark.range(1).select(lits: _*))
      }
    val scanPartial: Option[DataFrame] =
      if (dirty.isEmpty) None
      else {
        val df = readManifestFiles(spark, table, m, dirty)
        val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
          count(col(c)).as(s"n_$c"), min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c")) ++
          (if (sumSet(c)) Seq(sum(col(c)).cast("long").as(s"sum_$c")) else Nil))
        Some(df.agg(aggs.head, aggs.tail: _*)
          .select(partialCols.map(col): _*))
      }
    val partials = (manifestPartial.toSeq ++ scanPartial.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(spark.range(1).select(
        (lit(0L).as("n_rows") +: cols.flatMap(c => Seq(
          lit(0L).as(s"n_$c"),
          lit(null).cast(schema(c).dataType).as(s"min_$c"),
          lit(null).cast(schema(c).dataType).as(s"max_$c")) ++
          (if (sumSet(c)) Seq(lit(null).cast("long").as(s"sum_$c")) else Nil))): _*))
    val finals = sum(col("n_rows")).as("n_rows") +: cols.flatMap(c => Seq(
      sum(col(s"n_$c")).as(s"n_$c"), min(col(s"min_$c")).as(s"min_$c"),
      max(col(s"max_$c")).as(s"max_$c")) ++
      (if (sumSet(c)) Seq(sum(col(s"sum_$c")).as(s"sum_$c")) else Nil))
    val base = partials.agg(finals.head, finals.tail: _*)

    // DISTINCT estimates from the manifest's per-file portable HLL
    // sketches: register max-merge is associative, so unioning the
    // clean files' sketches (+ one scanned sketch over the dv-masked
    // files) is bit-identical to sketching the whole visible table —
    // `nd_<c>` costs zero data-file reads on a vector-free table
    distincts.foreach { c =>
      require(m.hllCols.contains(c),
        s"snapshot $table: no HLL sketch tracked for '$c' " +
          s"(tracked: ${m.hllCols.mkString(",")})")
      clean.foreach(f => require(f.hlls.contains(c),
        s"snapshot $table: file ${f.path} predates HLL tracking for '$c' — " +
          "compact() once to record it"))
    }
    distincts.foldLeft(base) { (acc, c) =>
      import graft.functions.HllExprs
      val skFrame = spark.createDataset(clean.flatMap(_.hlls.get(c)))(
        org.apache.spark.sql.Encoders.BINARY).toDF("sk")
      val full =
        if (dirty.isEmpty) skFrame
        else skFrame.unionByName(readManifestFiles(spark, table, m, dirty)
          .agg(HllExprs.hllSketch(col(c).cast("string"), m.hllP,
            portable = true).as("sk")))
      acc.crossJoin( // 1-row × 1-row
        full.agg(HllExprs.hllEstimate(HllExprs.hllUnion(col("sk")))
          .as(s"nd_$c")))
    }
  }
}
