package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.{AggregatingAccumulator, SQLExecution}
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/**
 * A partitioned parquet write that gathers per-file statistics while
 * it writes: one SQL execution running `FileFormatWriter` with Spark's
 * basic stats tracker (task output metrics, the execution's write
 * metrics) plus a tracker evaluating caller-given aggregates over each
 * file's rows as the rows are written — what a second scan of the new
 * files grouped by `input_file_name()` would compute, without that
 * scan. The aggregates run through Spark's own aggregate evaluation
 * (`AggregatingAccumulator`: declarative update/evaluate expressions,
 * imperative buffers), bound to the data columns the files store.
 */
object TrackedWrite {

  /** A file the write produced: its path under the write's dir
    * (`<partCol>=<value>/<name>`), its on-disk size, and the stats
    * aggregates over its rows (a row with the aggregates' schema). */
  final case class WrittenFile(path: String, bytes: Long, stats: Row)

  /** Write `df` under `dir` (which must not exist yet, as
    * `mode("error")` refuses it), partitioned by `partCol`, keeping
    * the plan's arrangement; return every file written with `stats` —
    * aggregate columns over the data columns — evaluated on its rows. */
  def parquet(df: DataFrame, dir: String, partCol: String,
              stats: Seq[Column]): Seq[WrittenFile] = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val hadoopConf = spark.sessionState.newHadoopConf()
    val out0 = new Path(dir)
    val fs = out0.getFileSystem(hadoopConf)
    val out = fs.makeQualified(out0)
    if (fs.exists(out)) throw QueryCompilationErrors.outputPathAlreadyExistsError(out)
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val (part, data) = plan.output.partition(_.name == partCol)
    require(part.size == 1, s"TrackedWrite: no partition column '$partCol'")
    // resolved as a read of the written files would see the data
    // columns: every one nullable
    val input = data.map(_.withNullability(true))
    val agg = Dataset.ofRows(spark, LocalRelation(input))
      .agg(stats.head, stats.tail: _*).queryExecution.analyzed match {
      case a: Aggregate => a
      case other => throw new IllegalStateException(s"TrackedWrite: not an aggregate: $other")
    }
    val conf = new SerializableConfiguration(hadoopConf)
    val tracker = new FileStatsJobTracker(agg.aggregateExpressions, input, conf)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, out.toString)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(out.toString, Map.empty, plan.output),
        hadoopConf, part, None,
        Seq(new BasicWriteJobStatsTracker(conf, BasicWriteJobStatsTracker.metrics),
          tracker), Map.empty)
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(agg.schema)
    tracker.files.map { case (p, bytes, r) =>
      WrittenFile(p, bytes, toRow(r).asInstanceOf[Row]) }
  }

  /** One task's files: (path under the dir, bytes, aggregates). */
  private final case class FileStats(files: Seq[(String, Long, InternalRow)])
    extends WriteTaskStats

  /** Driver side: collects every committed task's [[FileStats]]. */
  private final class FileStatsJobTracker(aggs: Seq[NamedExpression],
                                          input: Seq[Attribute],
                                          conf: SerializableConfiguration)
      extends WriteJobStatsTracker {
    @transient var files: Seq[(String, Long, InternalRow)] = Nil
    override def newTaskInstance(): WriteTaskStatsTracker =
      new FileStatsTaskTracker(aggs, input, conf)
    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      files = stats.flatMap(_.asInstanceOf[FileStats].files)
  }

  /** Task side: one aggregation buffer per open file, fed every row
    * written to it; a closed file's aggregates and size are final. A
    * closed file's accumulator is reset and serves the task's next
    * file, so its generated projections compile once per task. */
  private final class FileStatsTaskTracker(aggs: Seq[NamedExpression],
                                           input: Seq[Attribute],
                                           conf: SerializableConfiguration)
      extends WriteTaskStatsTracker {
    private val open = mutable.HashMap.empty[String, AggregatingAccumulator]
    private val idle = mutable.Stack.empty[AggregatingAccumulator]
    private val done = mutable.ArrayBuffer.empty[(String, Long, InternalRow)]

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      open(filePath) = if (idle.nonEmpty) idle.pop() else AggregatingAccumulator(aggs, input)
    override def newRow(filePath: String, row: InternalRow): Unit =
      open(filePath).add(row)
    override def closeFile(filePath: String): Unit = {
      // the task-attempt path: its last two segments are where the
      // file lands under the dir once the job commits
      val p = new Path(filePath)
      val bytes = p.getFileSystem(conf.value).getFileStatus(p).getLen
      val acc = open.remove(filePath).get
      done += ((s"${p.getParent.getName}/${p.getName}", bytes, acc.value.copy()))
      acc.reset()
      idle.push(acc)
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FileStats(done.toSeq)
  }
}
