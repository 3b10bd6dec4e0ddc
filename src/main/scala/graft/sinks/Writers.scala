package graft.sinks

import graft.meta.SinkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Sink writers (reference: main.py:47-78). JSON/CSV/parquet with
 * saveMode; array columns are flattened to comma-joined strings for
 * CSV (CSV has no array type — reference: main.py:62-70).
 *
 * Scale notes: prefer parquet + `partitionBy` for anything large —
 * partition columns become directory pruning for downstream readers.
 * A validated stream is best written ONCE, partitioned by validity
 * (see Validate.tagged), instead of two filtered passes.
 *
 * Per-sink summaries go to log4j (`graft.sinks.Writers`, INFO): sinks
 * of one dataflow run on concurrent threads (see `Dataflow.run`).
 */
object Writers {
  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.sinks.Writers")

  def write(df: DataFrame, spec: SinkSpec): Unit = {
    // keyed copy-on-write merge (operators.Merge): incoming rows with
    // `__deleted = true` are delete keys, the rest insert-or-replace
    // by mergeKey; only partitions containing changed keys rewrite
    if (spec.saveMode == "merge") {
      require(spec.mergeKey.nonEmpty,
        s"sink '${spec.name}': saveMode merge needs mergeKey")
      require(spec.partitionBy.size == 1,
        s"sink '${spec.name}': saveMode merge needs exactly one partitionBy " +
          s"column (got ${spec.partitionBy.mkString(",")})")
      require(spec.layout == "none",
        s"sink '${spec.name}': merge and layout are mutually exclusive — " +
          "the target's hive partitioning IS the layout")
      val del =
        if (df.columns.contains("__deleted"))
          df.filter(coalesce(col("__deleted"), lit(false))).select(spec.mergeKey)
        else df.limit(0).select(spec.mergeKey)
      val ups =
        if (df.columns.contains("__deleted"))
          df.filter(!coalesce(col("__deleted"), lit(false))).drop("__deleted")
        else df
      val fmt = graft.sources.Readers.resolveFormat(spec.format)
      spec.paths.foreach { path =>
        val stats = graft.operators.Merge.mergeInto(df.sparkSession, path,
          ups, del, spec.mergeKey, spec.partitionBy.head, fmt)
        log.info(s"[sink ${spec.name}] merged into $path: " +
          s"${stats.upsertRows} upserts, ${stats.deleteKeys} delete keys, " +
          s"rewrote ${stats.rewritten.size} partition(s), " +
          s"dropped ${stats.dropped.size}")
      }
      return
    }
    // versioned snapshot commit (operators.Snapshot): create at v1 if
    // the table is missing, else a copy-on-write MERGE commit — same
    // `__deleted` delete-key convention as saveMode=merge, but every
    // commit is cross-partition atomic and time-travel readable
    // (source format "snapshot" + option "version")
    if (spec.saveMode == "snapshot") {
      require(spec.mergeKey.nonEmpty,
        s"sink '${spec.name}': saveMode snapshot needs mergeKey")
      require(spec.partitionBy.nonEmpty,
        s"sink '${spec.name}': saveMode snapshot needs partitionBy")
      require(spec.format == "parquet",
        s"sink '${spec.name}': snapshot tables are parquet (got ${spec.format})")
      // the SAME comma/transform grammar the stream sink and the SQL
      // catalog parse (PartField.splitSpecs): `"key": "tenant,entity"`
      // is a composite key, partitionBy entries may be identity
      // columns or transforms ("days(ts)", "bucket(8,id)", …) — the
      // metadata-driven surface creates every table shape the format
      // supports
      val keys = graft.operators.Snapshot.PartField.splitSpecs(spec.mergeKey)
      val parts = spec.partitionBy.flatMap(
        graft.operators.Snapshot.PartField.splitSpecs)
      // layout range|zorder maps onto the table's commit layout — a
      // TABLE property fixed at bootstrap (later commits reuse the
      // manifest's layout; a differing spec on an existing table is
      // ignored by design, like statsCols)
      val del =
        if (df.columns.contains("__deleted"))
          df.filter(coalesce(col("__deleted"), lit(false)))
            .select(keys.map(col): _*)
        else df.limit(0).select(keys.map(col): _*)
      val ups =
        if (df.columns.contains("__deleted"))
          df.filter(!coalesce(col("__deleted"), lit(false))).drop("__deleted")
        else df
      spec.paths.foreach { path =>
        if (spec.evolve.nonEmpty && graft.operators.Snapshot.exists(path))
          applyEvolve(df.sparkSession, path, spec)
        val st =
          if (!graft.operators.Snapshot.exists(path))
            graft.operators.Snapshot.createMulti(df.sparkSession, path, ups,
              keys, parts, spec.statsCols,
              fileRanges = spec.layoutPartitions,
              layoutMode = if (spec.layout == "none") "range" else spec.layout,
              zorderKeys = spec.layoutKeys,
              constraints = spec.constraints,
              bloomCols = spec.bloomCols,
              guards = spec.guards,
              hllCols = spec.hllCols,
              expects = spec.expects)
          else if (spec.audit.nonEmpty)
            // write-audit-publish: the post-merge state is audited
            // while staged; a failing audit never becomes a version
            graft.operators.Snapshot.wapMerge(df.sparkSession, path, ups, del,
              audit = spec.audit)
          else
            graft.operators.Snapshot.merge(df.sparkSession, path, ups, del)
        if (spec.snapshotTag.nonEmpty)
          graft.operators.Snapshot.tag(path, spec.snapshotTag, st.version)
        log.info(s"[sink ${spec.name}] snapshot $path now v${st.version}" +
          (if (spec.snapshotTag.nonEmpty) s" (tagged '${spec.snapshotTag}')"
           else "") + ": " +
          s"rewrote ${st.rewrittenPartitions.size} partition(s), " +
          s"dropped ${st.droppedPartitions.size}, ${st.filesWritten} file(s)")
      }
      return
    }
    // incremental aggregate maintenance (operators.IncrementalAgg):
    // the input is a CHANGE frame — rows with `__removed = true` are
    // the OLD versions of updated/deleted corpus rows (contribution
    // subtracted), the rest are added. Delta-sized maintenance of a
    // grouped (n, sum_*) table; a missing target bootstraps from the
    // added rows. parquet-only (the table is read back to maintain).
    if (spec.saveMode == "agg_maintain") {
      require(spec.aggGroupBy.nonEmpty,
        s"sink '${spec.name}': saveMode agg_maintain needs aggGroupBy")
      require(spec.format == "parquet",
        s"sink '${spec.name}': saveMode agg_maintain is parquet-only " +
          s"(got ${spec.format})")
      require(spec.layout == "none" && spec.partitionBy.isEmpty,
        s"sink '${spec.name}': agg_maintain and layout/partitionBy are " +
          "mutually exclusive — the aggregate table is KB-sized")
      val rem =
        if (df.columns.contains("__removed"))
          df.filter(coalesce(col("__removed"), lit(false))).drop("__removed")
        else df.limit(0)
      val add =
        if (df.columns.contains("__removed"))
          df.filter(!coalesce(col("__removed"), lit(false))).drop("__removed")
        else df
      spec.paths.foreach { path =>
        if (!graft.operators.IncrementalAgg.exists(path)) {
          graft.operators.IncrementalAgg.build(add, spec.aggGroupBy, spec.aggSums)
            .write.mode("overwrite").parquet(path)
          log.info(s"[sink ${spec.name}] bootstrapped aggregate table at $path")
        } else {
          graft.operators.IncrementalAgg.maintain(df.sparkSession, path,
            spec.aggGroupBy, spec.aggSums, rem, add)
          log.info(s"[sink ${spec.name}] maintained aggregate table at $path")
        }
      }
      return
    }
    // merge-on-read ERASURE (operators.Snapshot.deleteMorKeys): the
    // input frame carries KEYS TO FORGET (the GDPR/retraction wave);
    // each path must be an existing snapshot table, and every path
    // gets ONE deletion-vector commit — zero data files rewritten,
    // bloom/stats-pruned key scans, the version log as audit trail.
    // The declarative reach for what `SnapshotTool delete-mor` does
    // imperatively.
    if (spec.saveMode == "erase") {
      require(spec.format == "parquet" || spec.format == "snapshot",
        s"sink '${spec.name}': saveMode erase targets snapshot tables " +
          s"(format parquet|snapshot, got ${spec.format})")
      require(spec.partitionBy.isEmpty && spec.layout == "none",
        s"sink '${spec.name}': erase commits into an existing table — " +
          "partitionBy/layout have no meaning here")
      spec.paths.foreach { path =>
        require(graft.operators.Snapshot.exists(path),
          s"sink '${spec.name}': erase target $path is not a snapshot table")
        val st = graft.operators.Snapshot.deleteMorKeys(df.sparkSession, path, df)
        if (spec.snapshotTag.nonEmpty)
          graft.operators.Snapshot.tag(path, spec.snapshotTag, st.version)
        log.info(s"[sink ${spec.name}] erased into $path: now v${st.version}, " +
          s"${st.filesWritten} data file(s) written (deletion vectors only)")
      }
      return
    }
    // data-skipping layouts (declarative reach for Scale's file-layout
    // writers): cluster files by key range / Morton curve so parquet
    // footer stats prune for downstream readers
    if (spec.layout == "range" || spec.layout == "zorder") {
      require(spec.layoutKeys.nonEmpty && spec.layoutPartitions >= 1,
        s"sink '${spec.name}': layout '${spec.layout}' needs layoutKeys + layoutPartitions")
      // layout writers cluster whole FILES by key range; a hive-style
      // partitionBy would shatter that clustering — reject the combo
      // loudly instead of silently dropping one of the two
      require(spec.partitionBy.isEmpty,
        s"sink '${spec.name}': layout '${spec.layout}' cannot be combined with " +
          s"partitionBy (${spec.partitionBy.mkString(",")}) — the layout already " +
          "dictates the file clustering; drop one of the two")
      val mode = org.apache.spark.sql.SaveMode.valueOf(
        spec.saveMode.toLowerCase match {
          case "overwrite" => "Overwrite"
          case "append" => "Append"
          case "ignore" => "Ignore"
          case "error" | "errorifexists" => "ErrorIfExists"
          case other => throw new IllegalArgumentException(
            s"sink '${spec.name}': unknown saveMode '$other'")
        })
      val fmt = graft.sources.Readers.resolveFormat(spec.format)
      spec.paths.foreach { path =>
        if (spec.layout == "range")
          graft.operators.Scale.writeRangeLayout(df, path, spec.layoutKeys,
            spec.layoutPartitions, fmt, mode)
        else
          graft.operators.Scale.writeZOrder(df, path, spec.layoutKeys,
            spec.layoutPartitions, format = fmt, mode = mode)
      }
      return
    }
    val prepared = if (spec.format == "csv") flattenArraysForCsv(df) else df
    spec.paths.foreach { path =>
      val w = prepared.write.mode(spec.saveMode)
        .format(graft.sources.Readers.resolveFormat(spec.format))
      // CSV sinks carry a header (the reference writes headerless CSV
      // its own reader then misparses; graft round-trips cleanly).
      val wo = if (spec.format == "csv") w.option("header", "true") else w
      val p = if (spec.partitionBy.nonEmpty) wo.partitionBy(spec.partitionBy: _*) else wo
      p.save(path)
    }
  }

  /** Apply the sink's declarative evolution steps to an existing
    * snapshot table, IDEMPOTENTLY: a rename whose `from` is gone and
    * `to` present, a drop of an absent column, or a widen already at
    * the target type is an already-applied step and skips — scheduled
    * re-runs of the same pipeline JSON must not fail on their own
    * migration. Anything else malformed or impossible throws (a typo
    * should stop the pipeline, not silently no-op). */
  private def applyEvolve(spark: org.apache.spark.sql.SparkSession,
                          path: String, spec: graft.meta.SinkSpec): Unit = {
    import graft.operators.Snapshot
    spec.evolve.foreach { step =>
      val m = Snapshot.readManifest(path, Snapshot.currentVersion(path))
      val fields = org.apache.spark.sql.types.StructType
        .fromDDL(m.schemaDdl).fields
      def has(c: String) = fields.exists(_.name == c)
      step.split(":", 3) match {
        case Array("rename", fromTo) if fromTo.contains("->") =>
          val Array(from, to) = fromTo.split("->", 2)
          // `to` existing wins the decision: the rename already applied
          // (even if a column named `from` was later re-added — a
          // re-run must skip, not fail on its own migration)
          if (has(to))
            log.info(s"[sink ${spec.name}] evolve '$step': already applied")
          else if (has(from)) Snapshot.renameColumn(spark, path, from, to)
          else throw new IllegalArgumentException(
            s"sink '${spec.name}': evolve '$step' — neither '$from' nor '$to' exists")
        case Array("drop", c) =>
          if (has(c)) Snapshot.dropColumn(spark, path, c)
          else log.info(s"[sink ${spec.name}] evolve '$step': already applied")
        case Array("widen", c, t) =>
          if (!has(c)) throw new IllegalArgumentException(
            s"sink '${spec.name}': evolve '$step' — no column '$c'")
          else if (fields.find(_.name == c).get.dataType.simpleString == t)
            log.info(s"[sink ${spec.name}] evolve '$step': already applied")
          else Snapshot.widenColumn(spark, path, c, t)
        case _ => throw new IllegalArgumentException(
          s"sink '${spec.name}': bad evolve step '$step' " +
            "(want rename:old->new | drop:col | widen:col:type)")
      }
    }
  }

  /** CSV cannot carry complex types: arrays become comma-joined
    * strings (like the reference); structs/maps become JSON strings. */
  def flattenArraysForCsv(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType.typeName match {
        case "array" => acc.withColumn(f.name, concat_ws(",", col(f.name)))
        case "struct" | "map" => acc.withColumn(f.name, to_json(col(f.name)))
        case _ => acc
      }
    }
}
