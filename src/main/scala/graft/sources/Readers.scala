package graft.sources

import graft.meta.SourceSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Source readers (reference: src/reader.py:11-47). JSON-lines, CSV
 * (header + inferSchema by default) and parquet; glob paths work
 * natively in Spark so no driver-side expansion is needed.
 *
 * Scale notes: schema inference on CSV/JSON is a full extra pass —
 * at 100 TB always pass an explicit schema (the `schema` overloads);
 * inference stays available for interactive/small use to match the
 * reference's behavior.
 */
object Readers {

  /**
   * Fail fast when a source path/glob matches nothing — the reference
   * raises FileNotFoundError before starting Spark work (reference:
   * main.py:26-39); Spark's own failure mode is a less actionable
   * AnalysisException (or an empty stream on some paths). One
   * driver-side globStatus, no data read.
   */
  def requireMatches(spark: SparkSession, path: String, sourceName: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hit = Option(fs.globStatus(p)).exists(_.nonEmpty)
    if (!hit) throw new java.io.FileNotFoundException(
      s"Source '$sourceName': path '$path' matched no files")
  }

  def read(spark: SparkSession, spec: SourceSpec, schema: Option[StructType] = None): DataFrame = {
    // a snapshot table is a directory with its own manifest log, not a
    // file glob — resolved via the table format, not globStatus
    if (spec.format == "snapshot") {
      // pin by explicit `version`, by named `tag` (the vacuum-proof
      // reproducibility handle a snapshotTag sink wrote), else latest
      val v = spec.options.get("version").map(_.toInt)
        .orElse(spec.options.get("tag").map { name =>
          val t = graft.operators.Snapshot.tags(spec.path)
          require(t.contains(name),
            s"Source '${spec.name}': snapshot ${spec.path} has no tag " +
              s"'$name' (tags: ${t.keys.toSeq.sorted.mkString(",")})")
          t(name)
        })
        .getOrElse(graft.operators.Snapshot.currentVersion(spec.path))
      return graft.operators.Snapshot.readAt(spark, spec.path, v)
    }
    requireMatches(spark, spec.path, spec.name)
    spec.format match {
      case "json"    => json(spark, spec.path, spec.options, schema)
      case "csv"     => csv(spark, spec.path, spec.options, schema)
      case "parquet" => parquet(spark, spec.path)
      case "orc"     => orc(spark, spec.path)
      case "avro"    => avro(spark, spec.path)
      case other =>
        throw new IllegalArgumentException(s"Unsupported source format: '$other' for source '${spec.name}'")
    }
  }

  /** Name the Avro DataSource by its implementation class: the
    * friendly name "avro" is reserved by Spark's lookup for the
    * external spark-avro artifact (it raises "deploy spark-avro" even
    * when the classes are present), but Spark 4's spark-sql ships the
    * full implementation — naming the class bypasses the
    * reserved-name check and reaches it. */
  private val AvroFormatClass = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Avro source, probed at runtime (via [[resolveFormat]]) so the
    * same binary works wherever the implementation ships (spark-sql
    * in Spark 4, the spark-avro artifact elsewhere). */
  def avro(spark: SparkSession, path: String): DataFrame =
    spark.read.format(resolveFormat("avro")).load(path)

  /** Avro sink, same probe as the read path — an avro-less
    * deployment gets the remediation message, not a raw
    * ClassNotFoundException from the DataSource resolver. */
  def writeAvro(df: DataFrame, path: String): Unit =
    df.write.format(resolveFormat("avro")).mode("overwrite").save(path)

  /** True when the Avro DataSource implementation is loadable. */
  def avroAvailable: Boolean =
    try { Class.forName(AvroFormatClass); true }
    catch { case _: ClassNotFoundException => false }

  /** Map a metadata format name to what Spark's DataSource lookup
    * accepts: "avro" must travel as the implementation class (the
    * friendly name is reserved for the external artifact — see
    * [[avro]]); everything else passes through. Sinks use this too,
    * and the probe runs HERE so every avro path (read, write, layout
    * writers) fails with the same remediation message when the
    * DataSource is absent. */
  def resolveFormat(format: String): String =
    if (format == "avro") {
      if (!avroAvailable) throw new IllegalArgumentException(
        "Format 'avro' requires the Avro DataSource (spark-sql >= 4 or " +
          "the org.apache.spark:spark-avro module) on the classpath; it " +
          "is not present in this deployment")
      AvroFormatClass
    } else format

  def json(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.options(options)
    schema.fold(r)(r.schema).json(path)
  }

  def csv(spark: SparkSession, path: String,
          options: Map[String, String] = Map.empty,
          schema: Option[StructType] = None): DataFrame = {
    val defaults = Map(
      "header" -> "true", "sep" -> ",", "quote" -> "\"",
      "escape" -> "\"", "multiLine" -> "false", "encoding" -> "UTF-8")
    val opts = defaults ++ options
    val base = spark.read.options(opts)
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  def parquet(spark: SparkSession, path: String): DataFrame = {
    // Parquet TIMESTAMP(NANOS) (pandas default) is otherwise an
    // illegal type for Spark; read as long and convert explicitly.
    // NOTE this conf is SESSION-WIDE and must stay set until the scan
    // executes (footers are re-read at execution) — save/restore
    // around the read would break the lazy plan. graft's own mains
    // set it at session construction; for user sessions this is the
    // documented side effect of using Readers.parquet.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path)
  }

  /** ORC source (columnar like parquet; same pushdown/pruning via the
    * built-in datasource — no extra jars). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /**
   * Whole-file binary ingest — the entry point for raw multimodal
   * corpora (images/audio/video as files on distributed storage).
   * Each file becomes one row: (path, modificationTime, length,
   * content: binary); `pathGlobFilter` selects extensions and
   * `maxBytes` (0 = unlimited) guards executors against a stray
   * multi-GB file (the scan PRUNES `content` when only metadata is
   * selected, so listing-level stats never read payloads). Feed the
   * result to [[graft.operators.Multimodal]] for decode/feature
   * plumbing.
   */
  def binaryFiles(spark: SparkSession, path: String,
                  glob: Option[String] = None,
                  maxBytes: Long = 0L): DataFrame = {
    val r = spark.read.format("binaryFile")
    val withGlob = glob.fold(r)(g => r.option("pathGlobFilter", g))
    val df = withGlob.load(path)
    if (maxBytes > 0) df.filter(org.apache.spark.sql.functions.col("length") <= maxBytes)
    else df
  }

  /** Schema memo for [[table]]: qualified path -> (mtime, size,
    * inferred schema). Path-based parquet reads re-run schema
    * inference — a driver-blocking footer-read JOB — on EVERY
    * `spark.read.parquet` call; a catalog-backed production table
    * declares its schema once (this file's own scale note: "at
    * 100 TB always pass an explicit schema"). The memo is pure
    * METADATA (never rows, never results), keyed on the file's
    * (mtime, length) so any rewrite of the input re-infers. The
    * manifest memo's racily-fresh guard applies: a file younger than
    * the mtime granularity is not memoized (a same-length rewrite in
    * the same mtime tick would otherwise serve a stale schema), and
    * the map is cleared past 256 entries. */
  private val tableSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, StructType)]()

  /** Convenience: a testdata table from an sf directory. The events
    * table's `ts` is surfaced as a micro-precision `TIMESTAMP`
    * (DuckDB's semantics) whatever the file's physical type:
    * parquet TIMESTAMP(NANOS) arrives as a nanosecond long (via the
    * nanosAsLong conf) and converts by exact integer division;
    * TIMESTAMP(MICROS) without UTC adjustment arrives as
    * TIMESTAMP_NTZ and casts to the session-zone timestamp (UTC in
    * every graft session — same instants either way); an
    * already-adjusted TIMESTAMP passes through.
    *
    * The schema travels through [[tableSchemaMemo]]: inferred from
    * the footer ONCE per (file, mtime, size) per JVM, then passed
    * explicitly — repeat reads of the same immutable table skip the
    * per-call inference job (one blocking driver round-trip each on
    * an object store). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val pathStr = s"$sfDir/$name.parquet"
    val df = {
      val p = new org.apache.hadoop.fs.Path(pathStr)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = try {
        val s = fs.getFileStatus(p)
        if (s.isFile) Some(s) else None
      } catch { case _: java.io.FileNotFoundException => None }
      st match {
        case Some(s) =>
          val key = fs.makeQualified(p).toString
          val hit = tableSchemaMemo.get(key)
          val schema =
            if (hit != null && hit._1 == s.getModificationTime && hit._2 == s.getLen) hit._3
            else {
              val inferred = parquet(spark, pathStr).schema
              if (System.currentTimeMillis() - s.getModificationTime >=
                  graft.operators.Snapshot.mtimeGranularityMs) {
                if (tableSchemaMemo.size > 256) tableSchemaMemo.clear()
                tableSchemaMemo.put(key, (s.getModificationTime, s.getLen, inferred))
              }
              inferred
            }
          // the conf is still required at EXECUTION time for NANOS
          // physical types (see [[parquet]])
          if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.schema(schema).parquet(pathStr)
        case None => parquet(spark, pathStr)
      }
    }
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _                => df
      }
    else df
  }
}
