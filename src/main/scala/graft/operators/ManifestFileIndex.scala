package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A scan's file index served from manifest entries: one
  * `FileStatus(bytes, path)` per entry under the qualified table
  * root, no partition columns. Unlike the index `spark.read.parquet`
  * builds, it lists and stats nothing — a listing job above 32 paths,
  * one task per file, per read. Equality is over the file set, so
  * cached plans over the same files still match. */
private[graft] final class ManifestFileIndex(private val root: Path, files: Seq[FileStatus])
    extends FileIndex {
  private val paths = files.map(_.getPath).toSet
  override def rootPaths: Seq[Path] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = () // manifest files are immutable
  override val sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
  override def equals(o: Any): Boolean = o match {
    case x: ManifestFileIndex => root == x.root && paths == x.paths
    case _ => false
  }
  override val hashCode: Int = paths.hashCode
}

private[graft] object ManifestFileIndex {
  /** The parquet frame over table-relative `entries` under
    * `dataSchema` — the relation `spark.read.schema(s).parquet(files)`
    * builds, without its listing. An entry with no recorded size
    * (legacy manifest, `bytes == 0`) is stat-ed; a null schema (a
    * manifest that recorded none) is inferred once from the footers. */
  def frame(spark: SparkSession, table: String, entries: Seq[Snapshot.FileEntry],
            dataSchema: StructType): DataFrame = {
    val root0 = new Path(table)
    val fs = root0.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(root0)
    val files = entries.map { e =>
      val p = new Path(root, e.path)
      if (e.bytes > 0) new FileStatus(e.bytes, false, 0, 0, 0, p)
      else fs.getFileStatus(p)
    }
    val schema = Option(dataSchema)
      .orElse(new ParquetFileFormat().inferSchema(spark, Map.empty, files))
      .getOrElse(throw new IllegalStateException(s"snapshot $table: no schema in the files"))
    frame(spark, root, files, schema)
  }

  /** The parquet frame over already-known `files` under the qualified
    * `root`, read as `dataSchema`. */
  def frame(spark: SparkSession, root: Path, files: Seq[FileStatus],
            dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFileIndex(root, files),
      new StructType(), dataSchema.toNullable, None, new ParquetFileFormat, Map.empty)(spark))
}
