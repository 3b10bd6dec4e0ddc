package graft

import graft.operators.Snapshot
import org.apache.spark.sql.SparkSession

/**
 * Ops CLI for versioned snapshot tables — the maintenance verbs a
 * lakehouse schedules (compaction after trickle merges, vacuum after
 * retention windows, fsck before audits, rollback after a bad
 * commit), driveable from cron / CI exactly like
 * [[ScheduleRunner]]:
 *
 * {{{
 *   runMain graft.SnapshotTool describe /data/corpus_v    # rows/dv/tags/guards at the tip
 *   runMain graft.SnapshotTool history  /data/corpus_v
 *   runMain graft.SnapshotTool fsck     /data/corpus_v        # exit 1 on findings
 *   runMain graft.SnapshotTool compact  /data/corpus_v [maxFilesPerPartition=4]
 *   runMain graft.SnapshotTool vacuum   /data/corpus_v [retainLast=2] [retainHours]
 *   runMain graft.SnapshotTool expire-snapshots /data/corpus_v <olderThan>
 *   runMain graft.SnapshotTool rollback /data/corpus_v <version>
 *   runMain graft.SnapshotTool delete-where /data/corpus_v <col> <lo> <hi>
 *   runMain graft.SnapshotTool delete-mor   /data/corpus_v <col> <lo> <hi>  # deletion vector, no rewrite
 *   runMain graft.SnapshotTool update-where /data/corpus_v <col> <lo> <hi> <set>=<sqlExpr> [...]
 *   runMain graft.SnapshotTool agg      /data/corpus_v <col> [...]      # manifest-only count/min/max
 *   runMain graft.SnapshotTool tag      /data/corpus_v <name> [version] # pin a version (vacuum-proof)
 *   runMain graft.SnapshotTool untag    /data/corpus_v <name>
 *   runMain graft.SnapshotTool tags     /data/corpus_v
 *   runMain graft.SnapshotTool as-of    /data/corpus_v '2026-08-15 03:00:00'
 *   runMain graft.SnapshotTool expect   /data/corpus_v unique:doc_id row_count:1000-1000000000
 *     # ad-hoc dataset audit of the tip, exit 1 on any failing check
 * }}}
 */
object SnapshotTool {

  /** CLI values arrive as strings; predicates should compare
    * numerically when they can (Snapshot.prune does the same). */
  private def parseBound(s: String): Any =
    scala.util.Try(s.toLong).orElse(scala.util.Try(s.toDouble)).getOrElse(s)

  /** Run one verb; returns (output lines, exit code). Factored from
    * main so specs drive it without forking a JVM. */
  def run(spark: SparkSession, args: Seq[String]): (Seq[String], Int) =
    args match {
      case Seq("describe", table) =>
        val v = Snapshot.currentVersion(table)
        val m = Snapshot.readManifest(table, v)
        val dvd = m.files.count(_.dv.isDefined)
        val masked = m.rows - m.logicalRows
        val tags = Snapshot.tags(table)
        (Seq(
          s"version          v$v (op ${m.op}, parent v${m.parent})",
          s"rows             ${m.logicalRows} visible" +
            (if (masked > 0) s" (${m.rows} physical, $masked masked by " +
              s"deletion vectors on $dvd file(s) — compact to materialize)"
             else ""),
          s"partitions       ${m.partitions.size} (col ${m.partitionLabel})",
          s"files            ${m.files.size}",
          s"key              ${m.keyLabel}",
          s"stats cols       ${m.statsCols.mkString(",")}",
          s"bloom cols       ${if (m.bloomCols.isEmpty) "-" else m.bloomCols.mkString(",")}",
          s"hll cols         ${if (m.hllCols.isEmpty) "-" else m.hllCols.mkString(",")}",
          s"layout           ${m.layout.mode}" +
            (if (m.layout.fileRanges > 0) s" x${m.layout.fileRanges}" else "") +
            (if (m.layout.zorderKeys.nonEmpty) s" on ${m.layout.zorderKeys.mkString(",")}" else ""),
          s"constraints      ${if (m.constraints.isEmpty) "-" else m.constraints.keys.toSeq.sorted.mkString(",")}",
          s"guards           ${if (m.guards.isEmpty) "-"
            else m.guards.toSeq.sortBy(_._1).map { case (k, x) => s"$k=$x" }.mkString(",")}",
          s"expects          ${if (m.expects.isEmpty) "-" else m.expects.mkString(",")}",
          s"column map       ${if (m.columnMap.isEmpty && m.retiredCols.isEmpty) "-"
            else m.columnMap.toSeq.sortBy(_._1)
              .map { case (l, p) => s"$l->$p" }.mkString(",") +
              (if (m.retiredCols.isEmpty) ""
               else s" (retired: ${m.retiredCols.mkString(",")})")}",
          s"tags             ${if (tags.isEmpty) "-"
            else tags.toSeq.sortBy(_._1).map { case (n, tv) => s"$n->v$tv" }.mkString(",")}"), 0)
      case Seq("history", table) =>
        val lines = Snapshot.history(table).map { case (v, op, parent, parts, files, rows) =>
          f"v$v%-4d $op%-14s parent=v$parent%-3d partitions=$parts%-4d files=$files%-5d rows=$rows"
        }
        (lines, 0)
      case Seq("fsck", table) =>
        val issues = Snapshot.fsck(spark, table)
        if (issues.isEmpty) (Seq(s"fsck $table: clean"), 0)
        else (issues.map(i => s"fsck ${if (i.version > 0) s"v${i.version}" else "-"} ${i.file}: ${i.problem}"), 1)
      case Seq("compact", table, rest @ _*) =>
        val maxFiles = rest.headOption.map(_.toInt).getOrElse(4)
        val st = Snapshot.compact(spark, table, maxFiles)
        (Seq(s"compacted $table → v${st.version}: rewrote " +
          s"${st.rewrittenPartitions.size} partition(s), ${st.filesWritten} file(s)"), 0)
      case Seq("vacuum", table, rest @ _*) =>
        val retain = rest.headOption.map(_.toInt).getOrElse(2)
        // optional 2nd arg: age window in hours (committed_at axis)
        val hours = rest.drop(1).headOption.map(_.toDouble).getOrElse(-1.0)
        val vs = Snapshot.vacuum(spark, table, retain, retainHours = hours)
        (Seq(s"vacuumed $table: ${vs.filesDeleted} file(s), " +
          s"${vs.manifestsDeleted} manifest(s), ${vs.bytesFreed} bytes freed"), 0)
      case Seq("expire-snapshots", table, olderThan) =>
        val vs = Snapshot.expireSnapshots(spark, table,
          Snapshot.parseInstantMillis(olderThan))
        (Seq(s"expired $table versions committed at or before $olderThan: " +
          s"${vs.filesDeleted} file(s), ${vs.manifestsDeleted} manifest(s), " +
          s"${vs.bytesFreed} bytes freed"), 0)
      case Seq("add-check", table, name, sql) =>
        val st = Snapshot.addCheck(spark, table, name, sql)
        (Seq(s"added CHECK '$name' ($sql) to $table → v${st.version}"), 0)
      case Seq("drop-check", table, name) =>
        val st = Snapshot.dropCheck(spark, table, name)
        (Seq(s"dropped CHECK '$name' from $table → v${st.version}"), 0)
      case Seq("set-guard", table, name, value) =>
        val st = Snapshot.setGuard(spark, table, name, value)
        (Seq(s"set guard $name=$value on $table → v${st.version}"), 0)
      case Seq("drop-guard", table, name) =>
        val st = Snapshot.dropGuard(spark, table, name)
        (Seq(s"dropped guard '$name' from $table → v${st.version}"), 0)
      case Seq("set-expects", table, rest @ _*) =>
        val st = Snapshot.setExpectations(spark, table, rest)
        (Seq(s"set ${rest.size} expectation(s) on $table → v${st.version}"), 0)
      case Seq("rollback", table, v) =>
        val st = Snapshot.rollback(spark, table, v.toInt)
        (Seq(s"rolled back $table to v$v → new version v${st.version}"), 0)
      case Seq("delete-where", table, c, lo, hi) =>
        val st = Snapshot.deleteWhere(spark, table,
          Seq((c, parseBound(lo), parseBound(hi))))
        (Seq(s"deleted from $table where $c in [$lo,$hi] → v${st.version}: " +
          s"rewrote ${st.rewrittenPartitions.size} partition(s), " +
          s"${st.filesWritten} file(s)"), 0)
      case Seq("tag", table, name, rest @ _*) =>
        val v = rest.headOption.map(_.toInt).getOrElse(0)
        Snapshot.tag(table, name, v)
        (Seq(s"tagged $table ${Snapshot.tags(table)(name)} as '$name'"), 0)
      case Seq("untag", table, name) =>
        Snapshot.untag(table, name)
        (Seq(s"untagged '$name' from $table"), 0)
      case Seq("tags", table) =>
        (Snapshot.tags(table).toSeq.sortBy(_._1)
          .map { case (n, v) => s"$n -> v$v" }, 0)
      case Seq("as-of", table, ts) =>
        // epoch millis or a timestamp string parsed as UTC (matching
        // the pinned session zone — never the host default) — the CLI
        // face of Snapshot.versionAtTime ("what version did the 03:00
        // run read?")
        val millis = Snapshot.parseInstantMillis(ts)
        val v = Snapshot.versionAtTime(table, millis)
        (Seq(s"v$v (committed_at ${Snapshot.committedAt(table, v)})"), 0)
      case Seq("expect", table, checks @ _*) if checks.nonEmpty =>
        // ad-hoc dataset audit of the TIP (Expectations grammar minus
        // subset) — exit 1 on any failing check, cron/CI-gateable like
        // fsck; the read-side sibling of commit `expects`/WAP `audit`
        val parsed = checks.map(graft.operators.Expectations.parse(_, _ =>
          throw new IllegalArgumentException(
            "expect: subset checks need a reference frame — pipeline-level only")))
        val rows = graft.operators.Expectations
          .report(Snapshot.readLatest(spark, table), parsed)
          .collect()
        val lines = rows.map(r => f"${if (r.getAs[Boolean]("ok")) "OK  "
          else "FAIL"} ${r.getAs[String]("check")}%-40s observed=${r.getAs[Long]("observed")}")
        (lines.toSeq, if (rows.exists(r => !r.getAs[Boolean]("ok"))) 1 else 0)
      case Seq("delete-mor", table, c, lo, hi) =>
        val st = Snapshot.deleteWhereMor(spark, table,
          Seq((c, parseBound(lo), parseBound(hi))))
        val m = Snapshot.readManifest(table, st.version)
        (Seq(s"masked rows of $table where $c in [$lo,$hi] → v${st.version}: " +
          s"deletion vector over ${st.rewrittenPartitions.size} partition(s), " +
          s"0 data files rewritten; visible rows ${m.logicalRows}"), 0)
      case Seq("agg", table, cols @ _*) if cols.nonEmpty =>
        val row = Snapshot.aggStats(spark, table, cols).collect().head
        val lines = row.schema.fields.map(f =>
          s"${f.name} = ${Option(row.getAs[Any](f.name)).getOrElse("NULL")}")
        (lines.toSeq, 0)
      case Seq("relayout", table, ranges, mode, rest @ _*) =>
        val keys = rest.headOption.map(_.split(",").toSeq).getOrElse(Nil)
        val st = Snapshot.relayout(spark, table, ranges.toInt, mode, keys)
        (Seq(s"relaid out $table as $mode x$ranges" +
          (if (keys.nonEmpty) s" on ${keys.mkString(",")}" else "") +
          s" → v${st.version}: ${st.filesWritten} file(s)"), 0)
      case Seq("repartition", table, spec) =>
        val st = Snapshot.repartitionTable(spark, table,
          Snapshot.PartField.splitSpecs(spec))
        (Seq(s"repartitioned $table under spec '$spec' → v${st.version}: " +
          s"${st.filesWritten} file(s) (older versions keep their spec)"), 0)
      case Seq("rename-col", table, from, to) =>
        val st = Snapshot.renameColumn(spark, table, from, to)
        (Seq(s"renamed $table column $from -> $to → v${st.version} " +
          "(metadata-only, 0 data files touched)"), 0)
      case Seq("drop-col", table, name) =>
        val st = Snapshot.dropColumn(spark, table, name)
        (Seq(s"dropped $table column $name → v${st.version} " +
          "(metadata-only; bytes reclaimed at next compact/rewrite)"), 0)
      case Seq("widen-col", table, name, newType) =>
        val st = Snapshot.widenColumn(spark, table, name, newType)
        (Seq(s"widened $table column $name to $newType → v${st.version} " +
          "(metadata-only; narrow files up-convert on read)"), 0)
      case Seq("update-where", table, c, lo, hi, sets @ _*) if sets.nonEmpty =>
        val set = sets.map { s =>
          val at = s.indexOf('=')
          require(at > 0, s"update-where: bad SET '$s', want col=sqlExpr")
          s.substring(0, at) -> org.apache.spark.sql.functions.expr(s.substring(at + 1))
        }.toMap
        val st = Snapshot.updateWhere(spark, table,
          Seq((c, parseBound(lo), parseBound(hi))), set)
        (Seq(s"updated $table where $c in [$lo,$hi] → v${st.version}: " +
          s"rewrote ${st.rewrittenPartitions.size} partition(s), " +
          s"${st.filesWritten} file(s)"), 0)
      case other =>
        (Seq(s"unknown invocation: ${other.mkString(" ")}",
          "usage: SnapshotTool describe|history|fsck|compact|vacuum|expire-snapshots|rollback|" +
            "delete-where|delete-mor|update-where|agg|tag|untag|tags|" +
            "rename-col|drop-col|widen-col|relayout|repartition|expect|add-check|"+
            "drop-check|set-guard|drop-guard|set-expects " +
            "<table> [args]"), 2)
    }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-snapshot-tool")
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (lines, code) = run(spark, args.toSeq)
      lines.foreach(println)
      if (code != 0) sys.exit(code)
    } finally spark.stop()
  }
}
