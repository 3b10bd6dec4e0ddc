package graft.sources

import graft.operators.Snapshot

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{OptionalLong, Map => JMap, Set => JSet}

/**
 * DATASOURCE-V2 READ CONNECTOR for graft snapshot tables — the
 * catalog-integration surface the Scala API and the SQL TVFs
 * ([[graft.functions.GraftTableFunctions]]) don't reach: BI tools and
 * plain-SQL users address a snapshot table like any other source,
 *
 * {{{
 *   spark.read.format("graft").load("/data/corpus_v")                   // tip
 *   spark.read.format("graft").option("versionAsOf", 3).load(p)         // time travel
 *   spark.read.format("graft").option("tag", "training-2026-08").load(p)
 *   spark.sql("CREATE TABLE corpus USING graft LOCATION '/data/corpus_v'")
 *   spark.sql("SELECT * FROM corpus WHERE doc_id BETWEEN 100 AND 299")
 * }}}
 *
 * Architecture: a thin V2 shell over the EXISTING read path, not a
 * second engine. The [[GraftScanBuilder]] receives Spark's pushdown
 * (required columns + data filters), turns the prunable conjuncts
 * into manifest file skipping — partition values, per-file min/max
 * stats and per-file bloom filters for point/IN lookups, checked in
 * one [[Snapshot.prune]] pass — and builds the same DV-masked,
 * column-mapped, manifest-schema frame `Snapshot.readAt` serves,
 * restricted to the surviving entries with the filters re-applied
 * (pruning is an IO optimization, never a semantics change). The scan hands that frame to Spark as a
 * [[V1Scan]] (the JDBC-connector pattern): the INNER plan keeps the
 * vectorized parquet scan, parquet-level predicate pushdown and
 * whole-stage codegen, while the outer query composes it like any
 * relation. At 100 TB the wins stack: manifest pruning skips whole
 * files driver-side before a single task launches, then row-group
 * stats inside the surviving files prune again executor-side.
 *
 * Writes ride the SAME transactional commit protocol: `INSERT INTO`
 * (and `df.writeTo(t).append()`) bridges through [[V1Write]]'s
 * `InsertableRelation` — the incoming DataFrame lands driver-side and
 * goes straight into [[Snapshot.merge]], so the commit lock, CHECK
 * constraints, guards, expectations and schema evolution mapping all
 * apply exactly as for the Scala API. On a KEYED table format INSERT
 * therefore has UPSERT semantics (matching keys replace — the
 * format's one write primitive; a blind duplicate-key append would
 * violate the key contract, so none is offered). `INSERT OVERWRITE`
 * is a transactional REPLACE commit — unconditional, a static
 * `PARTITION (p = v)` scope, or (conf dynamic mode, via the
 * analysis-time interception) the dynamic partition overwrite; any
 * other overwrite predicate refuses, as does writing through a
 * `versionAsOf`/`tag`-pinned reference (writing to the past).
 */
class GraftDataSource extends TableProvider with DataSourceRegister
  with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  /** `writeStream.format("graft")` — each micro-batch is one
    * transactional merge commit (see [[GraftStreamSink]]). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft sink: Complete mode would rewrite the table every batch — " +
        "the format's commits are merges; use append/update")
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink: no path — .start(<table dir>)"))
    require(partitionColumns.isEmpty,
      "graft sink: partitioning is a TABLE property — pass " +
        ".option(\"partitionCol\", c), not partitionBy")
    new GraftStreamSink(path, parameters.get("key"),
      parameters.get("partitionCol"),
      parameters.get("statsCols").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
  }

  // ------------------------------------------------- streaming (CDC out)
  // `readStream.format("graft").load(path)` — the change feed as a
  // stream, offsets = version numbers (see [[GraftStreamSource]]).
  // The V1 streaming Source API is used deliberately: a micro-batch
  // IS a driver-side plan over the commits' change sets (the same
  // frames the batch TVF serves), which the V2 partition-reader API
  // cannot express without reimplementing the read path.

  private def streamArgs(parameters: Map[String, String]): (String, StructType) = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val (path, version) = GraftDataSource.resolve(opts)
    require(!opts.containsKey("versionAsOf") && !opts.containsKey("tag") &&
      !opts.containsKey("timestampAsOf"),
      "graft stream: time-travel pins make no sense on a stream — use " +
        "startingVersion to choose where the feed begins")
    val dataSchema = GraftDataSource.logicalSchema(path, version)
    (path, StructType(dataSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_version",
        org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft stream: the manifest is the schema authority — drop .schema(...)")
    val (_, s) = streamArgs(parameters)
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark
                              .sql.execution.streaming.Source = {
    val (path, _) = streamArgs(parameters)
    val startExclusive = parameters.get("startingVersion") match {
      case Some("latest") => Snapshot.currentVersion(path)
      case Some(v) => v.trim.toInt
      case None => 0
    }
    val emitLayout = parameters.get("emitLayoutOps").exists(_.toBoolean)
    // malformed numbers get the same descriptive refusal as
    // non-positive ones (-1 never passes the > 0 gate below), not a
    // raw NumberFormatException out of .toInt
    val maxVersions = parameters.get("maxVersionsPerBatch")
      .map(s => scala.util.Try(s.trim.toInt).getOrElse(-1)).getOrElse(0)
    require(parameters.get("maxVersionsPerBatch").isEmpty || maxVersions > 0,
      "graft stream: maxVersionsPerBatch must be a positive version count")
    val maxRows = parameters.get("maxRowsPerBatch")
      .map(s => scala.util.Try(s.trim.toLong).getOrElse(-1L)).getOrElse(0L)
    require(parameters.get("maxRowsPerBatch").isEmpty || maxRows > 0L,
      "graft stream: maxRowsPerBatch must be a positive row budget")
    val onEvolve = parameters.getOrElse("onSchemaChange", "identity")
    require(Set("identity", "allowAdditive", "nullFill").contains(onEvolve),
      "graft stream: onSchemaChange must be one of identity (default; " +
        "physical-identity alignment, fail on unrenderable changes), " +
        "allowAdditive (post-pin adds stay invisible until restart), " +
        "nullFill (legacy by-name alignment, no checks)")
    new GraftStreamSource(sqlContext.sparkSession, path, startExclusive,
      emitLayout, maxVersions, maxRows, onEvolve)
  }

  // the manifest is the schema authority (CREATE TABLE takes no
  // column list; a user-supplied schema could disagree with the log)
  override def supportsExternalMetadata(): Boolean = false

  /** A path with no snapshot table yet: legal for the STREAMING SINK
    * (its first batch bootstraps the table), so provider resolution
    * must survive it — the placeholder table carries the clear error
    * into any actual read/write attempt instead. */
  private def missingTable(options: CaseInsensitiveStringMap): Option[String] = {
    val p = Option(options.get("path")).orElse(Option(options.get("location")))
    p.filter(path => Snapshot.currentVersion(
      GraftDataSource.localizePath(path)) == 0)
      .map(GraftDataSource.localizePath)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    missingTable(options) match {
      case Some(_) => new StructType() // sink bootstrap; see above
      case None =>
        val (path, version) = GraftDataSource.resolve(options)
        GraftDataSource.logicalSchema(path, version)
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    missingTable(opts) match {
      case Some(p) => new GraftMissingTable(p)
      case None =>
        val (path, version) = GraftDataSource.resolve(opts)
        val pinned = opts.containsKey("versionAsOf") || opts.containsKey("tag") ||
          opts.containsKey("timestampAsOf")
        // resolving a graft table happens at ANALYSIS; installing the
        // stats re-wrap rule here guarantees it is in place before the
        // optimizer sizes any plan that reads this table
        GraftStatsRule.install(SparkSession.active)
        new GraftTable(path, version, pinned)
    }
  }
}

/** Placeholder for a path holding no snapshot table: exists so the
  * STREAMING SINK can resolve (Spark probes the V2 table before
  * falling back to the V1 sink whose first batch CREATES the table);
  * every batch read/write surface throws the clear missing-table
  * error. No STREAMING_WRITE capability — that is the point. */
private[graft] class GraftMissingTable(path: String)
  extends Table with SupportsRead with SupportsWrite {
  private def boom: Nothing = throw new IllegalArgumentException(
    s"graft datasource: no snapshot table at $path")
  override def name(): String = s"graft.`$path` (no table)"
  override def schema(): StructType = new StructType()
  override def capabilities(): JSet[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = boom
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = boom
}

/**
 * Makes the manifest statistics VISIBLE TO CATALYST. Spark's V2
 * pushdown wraps every [[V1Scan]] in a `V1ScanWrapper` whose
 * `computeStats` match sees only the wrapper — so a V1-bridged
 * connector's [[SupportsReportStatistics]] is silently dropped and
 * every graft relation would size at the 8 EiB default (never
 * broadcast, always shuffle). This rule runs in the user-rule batch
 * AFTER pushdown and re-wraps graft scans in a subclass that forwards
 * `estimateStatistics` — everything else about the wrapper (the
 * physical V1 bridge, pushed-operator bookkeeping, EXPLAIN output) is
 * inherited unchanged. Installed idempotently whenever a graft table
 * is resolved, and by [[graft.GraftExtensions]] for conf-configured
 * sessions.
 */
private[graft] object GraftStatsRule
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation => r.scan match {
      case w: V1ScanWrapper if !w.isInstanceOf[GraftStatsV1ScanWrapper] &&
          w.v1Scan.isInstanceOf[SupportsReportStatistics] =>
        r.copy(scan = new GraftStatsV1ScanWrapper(w))
      case _ => r
    }
  }

  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

/** A `V1ScanWrapper` that still reports the wrapped scan's
  * statistics (see [[GraftStatsRule]]). Equality is narrowed to this
  * class: the parent's structural case-class equality would make the
  * re-wrapped node `==` the original, and `TreeNode.transform` keeps
  * the OLD node when the rewrite compares equal — the rule would be a
  * silent no-op. */
private[graft] class GraftStatsV1ScanWrapper(orig: org.apache.spark.sql
    .execution.datasources.v2.V1ScanWrapper)
  extends org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper(
    orig.v1Scan, orig.handledFilters, orig.pushedDownOperators)
  with SupportsReportStatistics {
  override def estimateStatistics(): Statistics =
    orig.v1Scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[GraftStatsV1ScanWrapper]
  override def equals(that: Any): Boolean = that match {
    case g: GraftStatsV1ScanWrapper => super.equals(g)
    case _ => false
  }
  override def hashCode(): Int = super.hashCode() + 1
}

object GraftDataSource {
  /** (table path, pinned version) from reader options: `path` (or
    * `load(...)`'s path), optional `versionAsOf` / `tag` time travel.
    * The version pins at RESOLUTION time, so one query's multiple
    * references see one version even across a concurrent commit. */
  // "path" from load(...) / reader options; "location" is what the
  // session catalog stores for `CREATE TABLE … USING graft LOCATION`.
  // Either may arrive as a file: URI (the catalog normalizes
  // locations that way) — Snapshot's manifest IO wants a local path.
  private[graft] def localizePath(l: String): String =
    scala.util.Try(new java.net.URI(l)).toOption match {
      case Some(u) if u.getScheme == "file" => u.getPath
      case _ => l
    }

  private[graft] def resolve(options: CaseInsensitiveStringMap): (String, Int) = {
    val path = Option(options.get("path")).orElse(Option(options.get("location")))
      .map(localizePath)
      .getOrElse(throw new IllegalArgumentException(
        "graft datasource: no 'path' — spark.read.format(\"graft\").load(<table>)"))
    val vOpt = Option(options.get("versionAsOf")).map(_.trim.toInt)
    val tOpt = Option(options.get("tag")).map(_.trim)
    // timestampAsOf: epoch millis, or a timestamp string parsed as
    // UTC (never the JVM-default zone — the same option string must
    // resolve to the same version on every host); resolves through
    // the manifests' committed_at instants
    val tsOpt = Option(options.get("timestampAsOf"))
      .map(Snapshot.parseInstantMillis)
    require(Seq(vOpt, tOpt, tsOpt).count(_.isDefined) <= 1,
      "graft datasource: give ONE of versionAsOf / tag / timestampAsOf")
    val cur = Snapshot.currentVersion(path)
    require(cur > 0, s"graft datasource: no snapshot table at $path")
    val v = (tOpt, tsOpt) match {
      case (Some(tag), _) =>
        val t = Snapshot.tags(path)
        require(t.contains(tag),
          s"graft datasource: no tag '$tag' at $path " +
            s"(tags: ${t.keys.toSeq.sorted.mkString(",")})")
        t(tag)
      case (None, Some(ts)) => Snapshot.versionAtTime(path, ts)
      case _ => vOpt.getOrElse(cur)
    }
    (path, v)
  }

  private[graft] def logicalSchema(path: String, version: Int): StructType = {
    val m = Snapshot.readManifest(path, version)
    if (m.schemaDdl.nonEmpty) StructType.fromDDL(m.schemaDdl)
    else Snapshot.readAt(SparkSession.active, path, version).schema
  }
}

// (the resolved-version field avoids Table's default `version()`
// method name)
private[graft] class GraftTable(private[graft] val path: String,
                                private[graft] val resolvedVersion: Int,
                                private[graft] val pinned: Boolean = false)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE`: one transactional replace commit with an
    * empty frame of the table's CURRENT schema, resolved under the
    * same lock claim as the commit — history preserved (the
    * pre-truncate state time travels; vacuum reclaims by retention),
    * every gate enforced (a `min_rows`/`max_shrink_pct`-guarded table
    * REFUSES truncation — exactly the accident those guards exist to
    * stop). */
  override def truncateTable(): Boolean = {
    require(!pinned,
      "graft: cannot TRUNCATE through a versionAsOf/tag-pinned reference")
    Snapshot.truncate(SparkSession.active, path)
    true
  }

  override def name(): String = s"graft.`$path`@v$resolvedVersion"
  override def schema(): StructType = GraftDataSource.logicalSchema(path, resolvedVersion)

  /** The table contract, surfaced where SQL users look for it
    * (`DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`): key,
    * partition column, layout, tracked stats/bloom/HLL columns and
    * the resolved version — all from the manifest, zero data IO. */
  override def properties(): JMap[String, String] = {
    val m = Snapshot.readManifest(path, resolvedVersion)
    val props = new java.util.HashMap[String, String]()
    props.put("key", m.keyLabel)
    props.put("partitionCol", m.partitionLabel)
    props.put("version", resolvedVersion.toString)
    if (m.statsCols.nonEmpty) props.put("statsCols", m.statsCols.mkString(","))
    // tracking renders in the EXACT syntax CREATE accepts, so a SHOW
    // CREATE TABLE / re-CREATE round-trip reproduces the index surface
    // (the aggregate bloomCols/hllCols forms stay for dashboards)
    if (m.bloomCols.nonEmpty) {
      props.put("bloomCols", m.bloomCols.mkString(","))
      m.bloomCols.foreach { spec =>
        // trigram specs render under their OWN property family so the
        // SHOW CREATE TABLE output re-executes through trackingSpec
        val (tri, c) = Snapshot.bloomSpec(spec)
        props.put(if (tri) s"trigram.$c" else s"bloom.$c",
          s"${m.bloomBits},${m.bloomK}")
      }
    }
    if (m.hllCols.nonEmpty) {
      props.put("hllCols", m.hllCols.mkString(","))
      m.hllCols.foreach(c => props.put(s"hll.$c", m.hllP.toString))
    }
    if (m.layout.fileRanges > 0) {
      props.put("layout", m.layout.mode)
      props.put("fileRanges", m.layout.fileRanges.toString)
      if (m.layout.zorderKeys.nonEmpty)
        props.put("zorderKeys", m.layout.zorderKeys.mkString(","))
    }
    if (m.guards.nonEmpty)
      m.guards.foreach { case (k, v) => props.put(s"guard.$k", v) }
    if (m.constraints.nonEmpty)
      m.constraints.foreach { case (k, v) => props.put(s"check.$k", v) }
    if (m.expects.nonEmpty) props.put("expects", m.expects.mkString(";"))
    props
  }

  override def capabilities(): JSet[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.V1_BATCH_WRITE)
    // INSERT OVERWRITE → the transactional replace commit; the write
    // builder refuses any non-AlwaysTrue overwrite predicate
    caps.add(TableCapability.TRUNCATE)
    caps.add(TableCapability.OVERWRITE_BY_FILTER)
    caps
  }

  /** The declared partition column, surfaced as v2 partitioning so
    * SQL's `INSERT OVERWRITE … PARTITION (col = v)` resolves (and
    * DESCRIBE shows the layout). Lazy: Spark consults partitioning
    * during analysis of every query touching the table, and the
    * partition column is immutable for a (path, version). */
  private lazy val partitionTransforms: Array[org.apache.spark.sql
      .connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    Snapshot.readManifest(path, resolvedVersion).partFields.map {
      case graft.operators.Snapshot.IdentityField(src) => Expressions.identity(src)
      case graft.operators.Snapshot.YearsField(src) => Expressions.years(src)
      case graft.operators.Snapshot.MonthsField(src) => Expressions.months(src)
      case graft.operators.Snapshot.DaysField(src) => Expressions.days(src)
      case graft.operators.Snapshot.HoursField(src) => Expressions.hours(src)
      case graft.operators.Snapshot.BucketField(n, src) => Expressions.bucket(n, src)
      case graft.operators.Snapshot.TruncateField(n, src) =>
        Expressions.apply("truncate",
          Expressions.literal(n), Expressions.column(src))
    }.toArray
  }
  override def partitioning(): Array[org.apache.spark.sql.connector
      .expressions.Transform] = partitionTransforms

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, resolvedVersion, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, pinned)

  /** `DELETE FROM t WHERE …` → the file-granularity predicate-DML
    * commit ([[Snapshot.deleteWhere]]): bounded range/equality
    * conjunctions delete transactionally (manifest pruning picks the
    * candidate files, only those rewrite, guards enforced, one atomic
    * version). Predicates the range form cannot express are REFUSED
    * at analysis ([[canDeleteWhere]]) with a clear error rather than
    * silently mis-deleted. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && GraftFilters.toDmlPreds(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!pinned,
      "graft: cannot DELETE through a versionAsOf/tag-pinned reference")
    val preds = GraftFilters.toDmlPreds(filters).getOrElse(
      throw new IllegalArgumentException(
        "graft: DELETE supports conjunctions of ranges, one-sided " +
          "bounds, equality and IN lists (col = v, col BETWEEN lo AND " +
          "hi, col >= v, col < v, col IN (…)) — rewrite the predicate " +
          "or use the Scala DML API"))
    Snapshot.deleteMatching(SparkSession.active, path, preds)
  }
}

/** `INSERT INTO` / `INSERT OVERWRITE` through the transactional path:
  * the V1 write bridge hands the whole incoming DataFrame to the
  * driver. INSERT commits it as a [[Snapshot.merge]] — upsert on the
  * table key, under the commit lock, with constraints/guards/
  * expectations enforced and the evolution column mapping applied —
  * everything a blind file-append path would have bypassed. INSERT
  * OVERWRITE commits it as ONE [[Snapshot.overwrite]] replace: the
  * frame becomes the table's whole visible state, old files stay
  * owned by history (time travel intact), the same gates enforced. */
private[graft] class GraftWriteBuilder(path: String, pinned: Boolean,
                                       replace: Boolean = false,
                                       partScope: Option[Set[String]] = None)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite {

  // `INSERT OVERWRITE` arrives as OverwriteByExpression: an
  // unconditional overwrite calls truncate() (SupportsOverwrite's
  // default routes the AlwaysTrue filter set here too). The V1 bridge
  // then invokes insert() with overwrite=false — the replace-ness
  // lives in THIS flag, not that argument.
  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(path, pinned, replace = true)

  /** A predicated overwrite is accepted in exactly ONE shape: a
    * static partition scope — equality/IN on the PARTITION column
    * (`INSERT OVERWRITE t PARTITION (part = 'p0')`, `df.writeTo(t)
    * .overwrite(col("part") === "p0")`) — which lands as the
    * partition-scoped replace commit. Anything else refuses:
    * unconditional replace or bounded predicate DML, never a silent
    * in-between. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
      return truncate()
    val m = Snapshot.readManifest(path, Snapshot.currentVersion(path))
    // every partition column must be an IDENTITY column to be
    // statically addressable by value (a transform's derived value is
    // not what PARTITION (col = v) names); composite specs need
    // equality/IN per column — the scope is the cross product of the
    // per-column value sets, rendered as the composite identity
    val idCols: Seq[String] = m.partFields.map {
      case graft.operators.Snapshot.IdentityField(src) => src
      case f => throw new IllegalArgumentException(
        s"graft: static PARTITION overwrite cannot address transform " +
          s"'${f.spec}' by value — use dynamic partitionOverwriteMode")
    }
    val perCol = scala.collection.mutable.Map.empty[String, Set[String]]
    def add(c: String, vs: Set[String]): Unit =
      perCol(c) = perCol.get(c).map(_ intersect vs).getOrElse(vs)
    filters.foreach {
      case org.apache.spark.sql.sources.AlwaysTrue => ()
      case IsNotNull(c) if idCols.contains(c) => () // rides along with equality
      case EqualTo(c, v) if idCols.contains(c) && v != null =>
        add(c, Set(v.toString))
      case EqualNullSafe(c, v) if idCols.contains(c) && v != null =>
        add(c, Set(v.toString))
      case In(c, vs) if idCols.contains(c) && vs.forall(_ != null) =>
        add(c, vs.map(_.toString).toSet)
      case f => throw new IllegalArgumentException(
        s"graft: INSERT OVERWRITE supports only a static PARTITION scope " +
          s"(equality/IN on '${idCols.mkString(",")}') or the unconditional " +
          s"replace — got $f; predicate DML (DELETE/UPDATE) are the " +
          "bounded rewrite commits")
    }
    require(idCols.forall(perCol.contains),
      "graft: INSERT OVERWRITE static PARTITION scope must name every " +
        s"partition column (${idCols.mkString(",")}) — partial scopes " +
        "are the dynamic mode's job")
    val scope = idCols.map(perCol).foldLeft(Seq("")) { (acc, vs) =>
      for (a <- acc; v <- vs.toSeq.sorted)
        yield if (a.isEmpty) v
        else a + graft.operators.Snapshot.PartSep + v
    }.toSet
    require(scope.nonEmpty,
      "graft: INSERT OVERWRITE partition scope resolved empty — give " +
        s"equality/IN on '${idCols.mkString(",")}' or overwrite unconditionally")
    new GraftWriteBuilder(path, pinned, partScope = Some(scope))
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          require(!pinned,
            "graft: cannot INSERT through a versionAsOf/tag-pinned reference " +
              "— address the table without time-travel options to write")
          if (partScope.isDefined)
            Snapshot.overwritePartitions(data.sparkSession, path, data,
              partScope)
          else if (replace || overwrite)
            Snapshot.overwrite(data.sparkSession, path, data)
          else {
            val m = Snapshot.readManifest(path, Snapshot.currentVersion(path))
            // committed as op 'insert-merge', not plain 'merge': the
            // history/audit trail must show that this SQL INSERT had
            // upsert-on-key semantics (matching keys replaced), so a
            // surprised SQL user can see it in graft_snapshot_history
            Snapshot.merge(data.sparkSession, path, data,
              data.limit(0).select(m.keys.map(col): _*), op = "insert-merge")
          }
        }
      }
  }
}

private[graft] class GraftScanBuilder(path: String, version: Int,
                                        full: StructType)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private var aggSpec: Option[GraftAggSpec] = None
  private var limit: Int = -1

  /** LIMIT pushdown as FILE SKIPPING: `SELECT … LIMIT n` needs only
    * as many files as the manifest proves hold ≥ n logical rows — at
    * a 100 TB table, the peek query opens one file instead of
    * planning every one. Pushed only when no filters pushed (a
    * filtered limit cannot bound per-file surviving rows from stats);
    * "partially": the scan re-applies `limit(n)` on the inner frame,
    * and Spark keeps its own limit above — semantics never change,
    * the file set shrinks. */
  override def pushLimit(n: Int): Boolean = {
    if (pushed.nonEmpty || n <= 0) false
    else { limit = n; true }
  }
  override def isPartiallyPushed(): Boolean = true

  /** Accept every filter [[GraftFilters.toColumn]] can express as a
    * Column (applied exactly on the inner frame — no residual), hand
    * the rest back to Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(GraftFilters.toColumn(_).isDefined)
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the table's declared column order for determinism
    val want = requiredSchema.fieldNames.toSet
    required = StructType(full.fields.filter(f => want.contains(f.name)))
  }

  /**
   * AGGREGATE PUSHDOWN into the manifest ([[Snapshot.aggStats]]): a
   * whole-table `count(*)` / `count(c)` / `min(c)` / `max(c)` — and
   * `sum(c)` on integral stats columns — folds the per-file stats the
   * manifest already carries, so the everyday BI probe (`SELECT
   * count(*) FROM t`) answers with ZERO data-file IO at any table
   * size. Strictly all-or-nothing, exactness-gated: the aggregation
   * is accepted ONLY when every aggregate in it can be answered
   * exactly from the manifest (stats-tracked column, non-distinct,
   * no residual WHERE) — otherwise the whole aggregation stays with
   * Spark and executes over the normal pruned scan. Files masked by a
   * deletion vector can't prove their stats; aggStats scans those —
   * and only those — dv-applied, so the result is exact either way
   * (the clean/dirty hybrid the `snapshot_agg_mor` oracle pins).
   *
   * `GROUP BY <partition column>` pushes too: the manifest keys its
   * file entries BY partition value, so the grouped aggregate is the
   * same driver-side fold run per key — `SELECT source, count(*)
   * FROM t GROUP BY source` answers from metadata alone. The grouped
   * fold declines while deletion vectors are live (the hybrid split
   * is per-partition there; `compact()` restores the fast path).
   */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    analyzeAggregation(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete pushdown only: a PARTIAL manifest aggregate (Spark
    // re-aggregating our partials) buys nothing over the complete
    // fold and would double-count the dv-masked scan, so anything
    // not fully answerable is declined outright
    aggSpec = analyzeAggregation(agg)
    aggSpec.isDefined
  }

  /** (fn, col) per aggregate — fn ∈ count_star|count|min|max|sum —
    * plus whether the (single, partition-column) GROUP BY pushes, plus
    * the partition values a pushed WHERE restricts the fold to; None
    * when ANY aggregate falls outside the manifest's exact reach. */
  private def analyzeAggregation(agg: Aggregation): Option[GraftAggSpec] = {
    if (agg.aggregateExpressions.isEmpty) return None
    val m = Snapshot.readManifest(path, version)
    if (m.schemaDdl.isEmpty) return None
    val schema = StructType.fromDDL(m.schemaDdl)
    // A pushed WHERE is foldable ONLY when it restricts the PARTITION
    // column exactly: the manifest keys file entries by partition
    // value and files are partition-pure, so restricting the fold to
    // the matching entries IS the filter. Equality/IN match rendered
    // values directly; RANGE conjuncts (`>= <= > <`, so BETWEEN too)
    // resolve to the matching key set under the column's own ordering
    // — lexicographic for a string partition column, numeric via the
    // rendered-value round-trip for integral/decimal ones (the same
    // cast-of-rendering identity the stats fold trusts). A bound or
    // key the ordering cannot compare exactly (a non-castable bound,
    // a date/timestamp partition) declines the WHOLE aggregation to
    // the exact scan — pruning may be conservative, a fold may not.
    // `SELECT count(*) FROM t WHERE source = 'x'` and
    // `WHERE day BETWEEN 10 AND 20` both answer from metadata.
    // the partition-restricted fold reasons over partition identity
    // strings — expressible only for a SINGLE IDENTITY partition spec
    // (composite/transformed specs decline to the exact scan: pruning
    // may be conservative, a fold may not)
    val idPartCol: Option[String] = m.partFields match {
      case Seq(graft.operators.Snapshot.IdentityField(src)) => Some(src)
      case _ => None
    }
    val partType = idPartCol.flatMap(pc =>
      schema.fields.find(_.name == pc).map(_.dataType))
    def keysInRange(lo: Option[Any], loInc: Boolean,
                    hi: Option[Any], hiInc: Boolean): Option[Set[String]] = {
      val keys = m.partitions.keySet
      partType match {
        case Some(StringType) =>
          // compare in UTF-8 BINARY order — Spark's UTF8String
          // collation — not Java's UTF-16 code-unit order: the two
          // disagree for supplementary-plane text ('😀' sorts above
          // U+FFFF in bytes, below it in UTF-16). Partition values
          // are ASCII by the format's own validation (where the
          // orders agree), but the fold's correctness should not
          // lean on that distant invariant.
          def cmp(a: String, b: String): Int = Snapshot.cmpUtf8(a, b)
          val l = lo.map(_.toString)
          val h = hi.map(_.toString)
          Some(keys.filter(k =>
            l.forall(b => if (loInc) cmp(k, b) >= 0 else cmp(k, b) > 0) &&
            h.forall(b => if (hiInc) cmp(k, b) <= 0 else cmp(k, b) < 0)).toSet)
        case Some(t) if t == ByteType || t == ShortType ||
            t == IntegerType || t == LongType || t == FloatType ||
            t == DoubleType || t.isInstanceOf[DecimalType] =>
          def num(s: String): Option[BigDecimal] =
            scala.util.Try(BigDecimal(s)).toOption
          val l = lo.map(x => num(x.toString))
          val h = hi.map(x => num(x.toString))
          val ks = keys.toSeq.map(k => k -> num(k))
          if (l.exists(_.isEmpty) || h.exists(_.isEmpty) ||
              ks.exists(_._2.isEmpty)) None // not exactly comparable
          else Some(ks.collect { case (k, Some(n))
            if l.flatten.forall(b => if (loInc) n >= b else n > b) &&
               h.flatten.forall(b => if (hiInc) n <= b else n < b) => k
          }.toSet)
        case _ => None // ordering of rendering unproven for the type
      }
    }
    val partValues: Option[Set[String]] =
      if (pushed.isEmpty) null // no restriction (all partitions)
      else {
        val sets = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
        def range(lo: Option[Any], loInc: Boolean,
                  hi: Option[Any], hiInc: Boolean): Boolean =
          keysInRange(lo, loInc, hi, hiInc) match {
            case Some(ks) => sets += ks; true
            case None => false
          }
        val ok = pushed.forall {
          case EqualTo(c, v) if idPartCol.contains(c) && v != null =>
            sets += Set(v.toString); true
          case In(c, vs) if idPartCol.contains(c) && vs.nonEmpty &&
              !vs.contains(null) =>
            sets += vs.map(_.toString).toSet; true
          case GreaterThan(c, v) if idPartCol.contains(c) && v != null =>
            range(Some(v), loInc = false, None, hiInc = false)
          case GreaterThanOrEqual(c, v) if idPartCol.contains(c) && v != null =>
            range(Some(v), loInc = true, None, hiInc = false)
          case LessThan(c, v) if idPartCol.contains(c) && v != null =>
            range(None, loInc = false, Some(v), hiInc = false)
          case LessThanOrEqual(c, v) if idPartCol.contains(c) && v != null =>
            range(None, loInc = false, Some(v), hiInc = true)
          // partition values are non-null by construction
          // (validatePartitionValues rejects null at every commit):
          // IsNotNull — which Spark pushes alongside every equality —
          // is a no-op; IsNull can match nothing
          case IsNotNull(c) if idPartCol.contains(c) => true
          case IsNull(c) if idPartCol.contains(c) =>
            sets += Set.empty[String]; true
          case _ => false
        }
        if (!ok) return None
        if (sets.isEmpty) null else Some(sets.reduce(_ intersect _))
      }
    val scope = Option(partValues).flatten match {
      case Some(vs) => m.partitions.filter(e => vs.contains(e._1))
      case None => m.partitions
    }
    val scopedFiles = scope.values.flatten.toSeq
    // a restricted fold has no dv-hybrid path (aggStats' clean/dirty
    // split is whole-table): every in-scope entry must be clean
    if (Option(partValues).flatten.isDefined &&
        !scopedFiles.forall(_.dv.isEmpty)) return None
    val clean = scopedFiles.filter(_.dv.isEmpty)
    def colOf(e: V2Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames.head).filter(c => schema.fieldNames.contains(c))
      case _ => None
    }
    val groupBy = agg.groupByExpressions.toSeq match {
      case Nil => Some(false)
      case Seq(g) if idPartCol.isDefined && colOf(g) == idPartCol &&
          // grouped fold: per-partition entries must all be clean
          // (the hybrid dv split is global, not per-partition)
          scopedFiles.forall(_.dv.isEmpty) => Some(true)
      case _ => None
    }
    if (groupBy.isEmpty) return None
    def statsOk(c: String): Boolean = m.statsCols.contains(c)
    def sumOk(c: String): Boolean = statsOk(c) &&
      (schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false // float/double sums are order-dependent
      }) &&
      // every clean file must carry the sum stat (all-null files
      // contribute nothing) — a pre-sum-tracking manifest refuses
      clean.forall(f => f.stats.get(c).exists(cs =>
        cs.sum.isDefined || cs.nulls == f.rows))
    val specs: Seq[Option[(String, String)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count_star", ""))
        case c: Count if !c.isDistinct =>
          colOf(c.column).filter(statsOk).map(("count", _))
        case mn: Min => colOf(mn.column).filter(statsOk).map(("min", _))
        case mx: Max => colOf(mx.column).filter(statsOk).map(("max", _))
        case s: Sum if !s.isDistinct =>
          colOf(s.column).filter(sumOk).map(("sum", _))
        case _: AggregateFunc => None
      }
    if (specs.exists(_.isEmpty)) None
    else Some(GraftAggSpec(groupBy.get, specs.flatten,
      Option(partValues).flatten))
  }

  override def build(): Scan = aggSpec match {
    case Some(spec) => new GraftAggScan(path, version, spec)
    case None => new GraftV1Scan(path, version, pushed, required, limit)
  }
}

/** A pushed aggregation: the (fn, col) list in declared order,
  * whether the output is grouped by the partition column (group key
  * first in the scan output, Spark's contract), and the partition
  * values a pushed equality/IN/range WHERE restricts the fold to
  * (None = unfiltered). */
private[graft] case class GraftAggSpec(groupByPartition: Boolean,
                                       aggs: Seq[(String, String)],
                                       partValues: Option[Set[String]] = None)

/** The pushed-aggregation scan: ONE row (or one row PER PARTITION
  * VALUE under the grouped fold), computed from the manifest
  * driver-side — [[Snapshot.aggStats]] for the global form (plus the
  * dv-masked-files scan when deletion vectors are live), a direct
  * per-partition fold of the same per-file stats for the grouped
  * form — projected in the aggregation's declared order (group key
  * first, Spark's contract). Output types match Spark's aggregate
  * result types exactly (counts/sums LONG, min/max in the column
  * type), so the positional rewrite above needs no casts. */
private[graft] class GraftAggScan(path: String, version: Int,
                                    spec: GraftAggSpec)
  extends V1Scan with SupportsReportStatistics {

  /** The manifest's partition map restricted to the pushed partition
    * filter's values (all partitions when unfiltered). */
  private def scoped(m: Snapshot.Manifest): Map[String, Seq[Snapshot.FileEntry]] =
    spec.partValues match {
      case Some(vs) => m.partitions.filter(e => vs.contains(e._1))
      case None => m.partitions
    }

  /** One row, or one per partition — known from the manifest alone. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val groups: Long =
      if (!spec.groupByPartition) 1L
      else scoped(Snapshot.readManifest(path, version)).size.toLong
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(64L * (spec.aggs.size + 1) * groups)
    override def numRows(): OptionalLong = OptionalLong.of(groups)
  }

  private def frame(spark: SparkSession): DataFrame =
    if (spec.groupByPartition) groupedFrame(spark)
    else if (spec.partValues.isDefined) filteredGlobalFrame(spark)
    else globalFrame(spark)

  private def globalFrame(spark: SparkSession): DataFrame = {
    val cols = spec.aggs.collect { case (fn, c) if fn != "count_star" => c }.distinct
    val sums = spec.aggs.collect { case ("sum", c) => c }.distinct
    val st = Snapshot.aggStats(spark, path, cols, version, sums)
    st.select(spec.aggs.zipWithIndex.map { case ((fn, c), i) =>
      (fn match {
        case "count_star" => col("n_rows")
        case "count"      => col(s"n_$c")
        case "min"        => col(s"min_$c")
        case "max"        => col(s"max_$c")
        case "sum"        => col(s"sum_$c")
      }).as(s"agg_$i") // positional contract; names are cosmetic
    }: _*)
  }

  // string folds compare in UTF-8 binary order (Snapshot.utf8Ordering)
  // — the collation the stats were computed under, not Java's UTF-16
  private def foldMin(entries: Seq[Snapshot.FileEntry], c: String): Option[String] = {
    val xs = entries.flatMap(_.stats.get(c)).filter(_.min.isDefined)
    if (xs.isEmpty) None
    else if (xs.head.kind == "num")
      Some(xs.map(_.min.get).minBy(BigDecimal(_)))
    else Some(xs.map(_.min.get).min(Snapshot.utf8Ordering))
  }
  private def foldMax(entries: Seq[Snapshot.FileEntry], c: String): Option[String] = {
    val xs = entries.flatMap(_.stats.get(c)).filter(_.max.isDefined)
    if (xs.isEmpty) None
    else if (xs.head.kind == "num")
      Some(xs.map(_.max.get).maxBy(BigDecimal(_)))
    else Some(xs.map(_.max.get).max(Snapshot.utf8Ordering))
  }

  /** One fold over `entries`, rendered as the stat strings (cast once
    * downstream — the render-roundtrip-identity argument of
    * [[Snapshot.aggStats]]). The analyze step guaranteed every entry
    * here is dv-free. */
  private def foldVals(entries: Seq[Snapshot.FileEntry]): Seq[String] = {
    val n = entries.map(_.rows).sum
    spec.aggs.map {
      case ("count_star", _) => n.toString
      case ("count", c) =>
        (n - entries.map(_.stats.get(c).map(_.nulls).getOrElse(0L)).sum).toString
      case ("min", c) => foldMin(entries, c).orNull
      case ("max", c) => foldMax(entries, c).orNull
      case ("sum", c) =>
        val contribs = entries.flatMap(_.stats.get(c).flatMap(_.sum))
        if (contribs.isEmpty) null // SQL: all-null sum is NULL
        else contribs.map(BigDecimal(_)).sum.toString
    }
  }

  private def castCols(schema: StructType): Seq[Column] =
    spec.aggs.zipWithIndex.map { case ((fn, c), i) =>
      col(s"v_$i").cast(fn match {
        case "count_star" | "count" | "sum" => LongType
        case _ => schema(c).dataType
      }).as(s"agg_$i")
    }

  private def strSchema(withPart: Boolean): StructType = StructType(
    (if (withPart) Seq(org.apache.spark.sql.types.StructField("part",
      org.apache.spark.sql.types.StringType)) else Nil) ++
    spec.aggs.zipWithIndex.map { case (_, i) =>
      org.apache.spark.sql.types.StructField(s"v_$i", org.apache.spark.sql
        .types.StringType)
    })

  /** Per-partition fold of the per-file stats — the manifest already
    * keys entries by partition value, so `GROUP BY <partition col>`
    * is the global fold run once per key (restricted to the pushed
    * partition filter's keys when one pushed). */
  private def groupedFrame(spark: SparkSession): DataFrame = {
    val m = Snapshot.readManifest(path, version)
    val schema = StructType.fromDDL(m.schemaDdl)
    val rows: Seq[Row] = scoped(m).toSeq.sortBy(_._1).map {
      case (pv, entries) => Row.fromSeq(pv +: foldVals(entries))
    }
    val raw = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      strSchema(withPart = true))
    raw.select(
      // grouped folds only push for a single-identity partition spec
      // (analyzeAggregation's gate), so the sole source IS the column
      col("part").cast(schema(m.partSources.head).dataType).as("group_0") +:
      castCols(schema): _*)
  }

  /** The global fold under a pushed PARTITION filter: one row over
    * exactly the matching partitions' entries — `SELECT count(*) FROM
    * t WHERE <partition> = v` as a metadata fold. Zero matching
    * partitions still yields SQL's one global-aggregate row (count 0,
    * min/max/sum NULL). */
  private def filteredGlobalFrame(spark: SparkSession): DataFrame = {
    val m = Snapshot.readManifest(path, version)
    val schema = StructType.fromDDL(m.schemaDdl)
    val entries = scoped(m).values.flatten.toSeq
    val raw = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        Seq(Row.fromSeq(foldVals(entries)))).asJava,
      strSchema(withPart = false))
    raw.select(castCols(schema): _*)
  }

  override def readSchema(): StructType = frame(SparkSession.active).schema

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val df = frame(context.sparkSession)
    new GraftV1Relation(context, df.schema, df).asInstanceOf[T]
  }
}

/** The built scan: file skipping happens HERE (driver-side, once per
  * query plan), then the inner frame executes through [[V1Scan]]'s
  * v1 bridge with zero per-row conversion (`needConversion = false`:
  * the RDD carries the inner plan's InternalRows straight through —
  * the same bridge Spark's own JDBC v2 connector rides). */
private[graft] class GraftV1Scan(path: String, version: Int,
                                   filters: Array[Filter],
                                   required: StructType,
                                   limit: Int = -1)
  extends V1Scan with SupportsReportStatistics {

  // file skipping is decided ONCE per scan (the same kept set feeds
  // both the statistics estimate and the executed read); a pushed
  // LIMIT keeps the fewest files whose manifest-known LOGICAL rows
  // (dv rows subtracted) already cover it
  private lazy val kept: Option[Seq[Snapshot.FileEntry]] = {
    val pruned = GraftFilters.prune(path, version, filters)
    if (limit <= 0) pruned
    else {
      val entries = pruned.getOrElse(
        Snapshot.readManifest(path, version).files)
      var acc = 0L
      val taken = entries.takeWhile { e =>
        val before = acc
        acc += e.rows - e.dv.map(_.rows).getOrElse(0L)
        before < limit
      }
      Some(taken)
    }
  }

  override def readSchema(): StructType = required

  /**
   * EXACT manifest statistics for the surviving (post-pruning) file
   * set: `numRows` is the logical row count (physical rows minus
   * deletion-vector rows — both already in the manifest), and
   * `sizeInBytes` sums the surviving files' on-disk bytes — ALSO from
   * the manifest (`FileEntry.bytes`, recorded at commit time), so the
   * whole estimate is a driver-side metadata fold with zero
   * filesystem calls. That matters doubly: Catalyst may invoke
   * `estimateStatistics` several times per query plan, and at 100k
   * files on an object store a stat-per-file walk would be 100k
   * metadata round-trips per pass. Only entries a LEGACY manifest
   * wrote before byte tracking (bytes = 0) fall back to stat-ing
   * those files; either way the result is computed once per scan
   * instance (lazy val). This is what lets AQE and the join planner
   * size a graft relation CORRECTLY: a `versionAsOf`-pinned dimension
   * that pruned down to two files reports two files' bytes and gets
   * broadcast, instead of the default conservative estimate forcing a
   * shuffle join. Filters the manifest could not prune with still
   * execute inside the scan, so the numbers are upper bounds in
   * exactly the direction a planner wants (never under-report a
   * build side).
   */
  private lazy val stats: (Long, Long) = {
    val m = Snapshot.readManifest(path, version)
    val entries = kept.getOrElse(m.files)
    val logicalRows = entries.map(e => e.rows - e.dv.map(_.rows).getOrElse(0L)).sum
    val bytes = entries.map { e =>
      if (e.bytes > 0) e.bytes else walkBytes(e) // legacy-manifest fallback
    }.sum
    (logicalRows, bytes)
  }

  private def walkBytes(e: Snapshot.FileEntry): Long =
    try graft.operators.LogStore.forPath(path).sizeTree(s"$path/${e.path}")
    catch { case _: java.io.IOException => 0L } // vacuumed race: skip

  override def estimateStatistics(): Statistics = {
    val (logicalRows, bytes) = stats
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(logicalRows)
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val spark = context.sparkSession
    val base = Snapshot.readEntries(spark, path, version, kept.orNull)
    val filtered = filters.flatMap(GraftFilters.toColumn)
      .foldLeft(base)(_ filter _)
    val limited = if (limit > 0) filtered.limit(limit) else filtered
    val projected = limited.select(required.fieldNames.map(col).toSeq: _*)
    new GraftV1Relation(context, required, projected).asInstanceOf[T]
  }
}

private[graft] class GraftV1Relation(context: SQLContext,
                                       override val schema: StructType,
                                       df: DataFrame)
  extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** A read-only catalog table serving a driver-built frame — the
  * metadata-table shell (`graft.ns.t.history` rides it; the frame is
  * rebuilt per scan, so a running session always sees the current
  * log). */
private[graft] class GraftFrameTable(tableName: String,
                                     frame: () => DataFrame)
  extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = frame().schema
  override def capabilities(): JSet[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = frame().schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val df = frame()
          new GraftV1Relation(context, df.schema, df).asInstanceOf[T]
        }
      }
    }
}

/**
 * v1 [[Filter]] → Column translation + manifest file pruning.
 * Translation is EXACT (the produced Column has the filter's
 * semantics, nulls included) or absent — an untranslated filter stays
 * with Spark. Pruning is conservative: only top-level conjuncts on
 * indexed columns skip files; everything else keeps them (the
 * re-applied filter guarantees exactness either way).
 */
private[graft] object GraftFilters {

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case And(l, r) =>
      for (cl <- toColumn(l); cr <- toColumn(r)) yield cl && cr
    case Or(l, r) =>
      for (cl <- toColumn(l); cr <- toColumn(r)) yield cl || cr
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** DELETE-predicate translation: the conjunct array as
    * [[graft.operators.Snapshot.deleteMatching]]'s DML predicates —
    * `EqualTo` is a degenerate range, `>=`/`<=` halves of one column
    * merge into one bounded range, `In` becomes an [[Snapshot.InPred]]
    * (point-lookup pruning). None when any conjunct falls outside the
    * form (unbounded, OR, NOT, duplicate bounds, NULL in an IN list)
    * — the caller REFUSES rather than approximates. */
  def toDmlPreds(filters: Array[Filter]): Option[Seq[Snapshot.DmlPred]] = {
    // per column: (bound value, strict?) per side — half-open is legal
    // (the retention-sweep shape); double bounds on one side refuse
    val bounds = scala.collection.mutable.LinkedHashMap[
      String, (Option[(Any, Boolean)], Option[(Any, Boolean)])]()
    val ins = scala.collection.mutable.ArrayBuffer.empty[Snapshot.InPred]
    def upd(c: String, lo: Option[(Any, Boolean)],
            hi: Option[(Any, Boolean)]): Boolean = {
      val (l0, h0) = bounds.getOrElse(c, (None, None))
      if ((lo.isDefined && l0.isDefined) || (hi.isDefined && h0.isDefined))
        return false // conflicting double bounds — refuse, don't guess
      bounds(c) = (lo.orElse(l0), hi.orElse(h0))
      true
    }
    val ok = filters.forall {
      case EqualTo(c, v) if v != null =>
        upd(c, Some((v, false)), Some((v, false)))
      case GreaterThanOrEqual(c, v) if v != null => upd(c, Some((v, false)), None)
      case GreaterThan(c, v) if v != null        => upd(c, Some((v, true)), None)
      case LessThanOrEqual(c, v) if v != null    => upd(c, None, Some((v, false)))
      case LessThan(c, v) if v != null           => upd(c, None, Some((v, true)))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        ins += Snapshot.InPred(c, vs.toIndexedSeq); true
      case _ => false
    }
    if (!ok || filters.isEmpty) None
    else Some(bounds.toSeq.map {
      case (c, (Some((l, false)), Some((h, false)))) =>
        Snapshot.RangePred(c, l, h)
      case (c, (lo, hi)) =>
        Snapshot.BoundPred(c, lo.map(_._1), hi.map(_._1),
          loStrict = lo.exists(_._2), hiStrict = hi.exists(_._2))
    } ++ ins)
  }

  /** Manifest entries surviving the filters' prunable conjuncts, or
    * None when nothing prunes (read everything). The prunable leaves
    * become one [[Snapshot.DmlPred]] list checked in one
    * [[Snapshot.prune]] pass over the manifest. */
  def prune(path: String, version: Int,
            filters: Array[Filter]): Option[Seq[Snapshot.FileEntry]] = {
    val m = Snapshot.readManifest(path, version)
    val rangeable = (c: String) => m.partSources.contains(c) ||
      m.statsCols.contains(c)
    val eqable = (c: String) => rangeable(c) || m.bloomCols.contains(c)
    val preds: Seq[Snapshot.DmlPred] = filters.toSeq.flatMap {
      case EqualTo(c, v) if eqable(c) && v != null =>
        Some(Snapshot.InPred(c, Seq(v)))
      case In(c, vs) if eqable(c) && vs.nonEmpty && !vs.contains(null) =>
        Some(Snapshot.InPred(c, vs.toIndexedSeq))
      case GreaterThan(c, v) if rangeable(c) && v != null =>
        Some(Snapshot.BoundPred(c, Some(v), None, loStrict = true))
      case GreaterThanOrEqual(c, v) if rangeable(c) && v != null =>
        Some(Snapshot.BoundPred(c, Some(v), None))
      case LessThan(c, v) if rangeable(c) && v != null =>
        Some(Snapshot.BoundPred(c, None, Some(v), hiStrict = true))
      case LessThanOrEqual(c, v) if rangeable(c) && v != null =>
        Some(Snapshot.BoundPred(c, None, Some(v)))
      // `LIKE '%needle%'` compiles to StringContains: when the column
      // carries the trigram index (the `3g:` bloom spec), prune to the
      // files whose gram filter admits every 3-gram of the needle —
      // substring pushdown priced by matching files
      case StringContains(c, v)
          if m.bloomCols.contains(Snapshot.TriPrefix + c) && v != null =>
        Some(Snapshot.ContainsPred(c, v))
      // `LIKE 'prefix%'` compiles to StringStartsWith: prefix pruning
      // rides the per-file string min/max under the FORCED
      // lexicographic compare (PrefixPred — the numeric-when-
      // parseable range rule would mis-order digit prefixes)
      case StringStartsWith(c, v)
          if m.statsCols.contains(c) && v != null && v.nonEmpty =>
        Some(Snapshot.PrefixPred(c, v))
      case _ => None
    }
    if (preds.isEmpty) None else Some(Snapshot.keptFiles(path, m, preds))
  }
}
