package graft

import graft.meta.MetaLoader
import org.apache.spark.sql.SparkSession

/**
 * CLI pipeline runner — graft's equivalent of the reference's
 * `main.py` entry point (reference: main.py:81-177 `run_pipeline`):
 * load a metadata JSON, pick a dataflow (by name, or the first),
 * optionally override the first source's path, run it, print a
 * validation summary.
 *
 * Usage:
 *   runMain graft.RunPipeline <metadata.json> [dataflowName] [inputPathOverride] [--verbose]
 *
 * Unlike the reference — which caches + counts OK/KO eagerly before
 * writing (two extra jobs) — graft computes the validation summary
 * from the single-pass [[operators.StatsOp.validationStatsFromSplit]]
 * plan and lets the sinks drive execution.
 *
 * `--verbose` prints one `[stage]` line per source and transformation
 * output — row count + columns (reference: src/logger.py:1-58, which
 * file-logs around every pipeline stage). Row counts are extra
 * actions per stage; that cost is exactly what the flag opts into.
 */
object RunPipeline {

  /** Output frame names a transformation contributes (for stage
    * reporting). */
  private def outputsOf(t: meta.TransformSpec): Seq[String] = t match {
    case v: meta.ValidateSpec     => Seq(v.okOutput, v.koOutput)
    case s: meta.ComputeStatsSpec => Seq(s"${s.name}_fields")
    case s: meta.NormalizeSpec    => Seq(s.output)
    case s: meta.DropColumnsSpec  => Seq(s.output)
    case s: meta.SelectColumnsSpec => Seq(s.output)
    case s: meta.AddFieldsSpec    => Seq(s.output)
    case s: meta.FilterSpec       => Seq(s.output)
    case s: meta.JoinSpec         => Seq(s.output)
    case s: meta.AggregateSpec    => Seq(s.output)
    case s: meta.SqlSpec          => Seq(s.output)
    case s: meta.DedupTransformSpec => Seq(s.output)
    case s: meta.TextAnalysisSpec => Seq(s.output)
    case s: meta.SplitSpec        => Seq(s.output)
    case s: meta.AnnSpec          => Seq(s.output)
    case s: meta.DecontaminateSpec => Seq(s.output)
    case s: meta.ChunkSpec        => Seq(s.output)
    case s: meta.StratifiedSampleSpec => Seq(s.output)
    case s: meta.PackSpec         => Seq(s.output)
    case s: meta.MixSpec          => Seq(s.output)
    case s: meta.SearchSpec       => Seq(s.output)
    case s: meta.CentroidsSpec    => Seq(s.output)
    case s: meta.KeyHistogramSpec => Seq(s.output)
    case s: meta.CapSpec          => Seq(s.output)
    case s: meta.QuantileGateSpec => Seq(s.output)
    case s: meta.UpsampleSpec     => Seq(s.output)
    case s: meta.GlobalOrderSpec  => Seq(s.output)
    case s: meta.BoilerplateSpec  => Seq(s.output)
    case s: meta.ParagraphDedupSpec => Seq(s.output)
    case s: meta.C4CleanSpec      => Seq(s.output)
    case s: meta.SentencesSpec    => Seq(s.output)
    case s: meta.NormalizeTextSpec => Seq(s.output)
    case s: meta.TakeSpec         => Seq(s.output)
    case s: meta.WeightedSampleSpec => Seq(s.output)
    case s: meta.LmScoreSpec      => Seq(s.output)
    case s: meta.BpeTokenizeSpec  => Seq(s.output)
    case s: meta.SubstringDedupSpec => Seq(s.output)
    case s: meta.FamiliaritySpec  => Seq(s.output)
    case s: meta.DupNgramCoverageSpec => Seq(s.output)
    case s: meta.ClassifySpec     => Seq(s.output)
    case s: meta.VersionDeltaSpec => Seq(s.output)
    case s: meta.FuzzySpec        => Seq(s.output)
    case s: meta.FunnelSpec       => Seq(s.output)
    case s: meta.CohortSpec       => Seq(s.output)
    case s: meta.ShardSpec        => Seq(s.output)
  }

  /** One `[stage]` line per source / transformation output: name,
    * transform type, row count, columns. Pure so the spec can assert
    * the shape without capturing stdout. */
  def stageSummary(flow: meta.DataflowSpec,
                   frames: Map[String, org.apache.spark.sql.DataFrame]): Seq[String] = {
    val sourceLines = flow.sources.flatMap { s =>
      frames.get(s.name).map(df =>
        s"[stage] source '${s.name}' (${s.format}): ${df.count()} rows, " +
          s"cols=[${df.columns.mkString(", ")}]")
    }
    val stageLines = flow.transformations.flatMap { t =>
      val tpe = t.getClass.getSimpleName.stripSuffix("Spec")
      outputsOf(t).flatMap(o => frames.get(o).map(df =>
        s"[stage] ${t.name} ($tpe) -> '$o': ${df.count()} rows, " +
          s"cols=[${df.columns.mkString(", ")}]"))
    }
    sourceLines ++ stageLines
  }

  /** Resolve + run one dataflow; returns its named frames. */
  def run(spark: SparkSession, metadataPath: String,
          dataflowName: Option[String] = None,
          inputOverride: Option[String] = None,
          verbose: Boolean = false): Map[String, org.apache.spark.sql.DataFrame] = {
    val pipeline = MetaLoader.loadFile(metadataPath)
    require(pipeline.dataflows.nonEmpty, "No dataflows defined in metadata.")
    val flow0 = dataflowName.map(pipeline.dataflow)
      .getOrElse(pipeline.dataflows.head)
    val flow = inputOverride match {
      case Some(p) if flow0.sources.nonEmpty =>
        flow0.copy(sources =
          flow0.sources.head.copy(path = p) +: flow0.sources.tail)
      case _ => flow0
    }
    val frames = Dataflow.run(spark, flow)
    if (verbose) stageSummary(flow, frames).foreach(println)
    for {
      ok <- frames.get("validation_ok")
      ko <- frames.get("validation_ko")
    } {
      val s = operators.StatsOp.validationStatsFromSplit(ok, ko).collect().head
      println(s"Validation results: ${s.getAs[Long]("valid_records")} valid, " +
        s"${s.getAs[Long]("rejected_records")} rejected " +
        f"(${s.getAs[Double]("validation_pass_rate")}%.2f%% pass rate)")
    }
    println(s"Pipeline '${flow.name}' completed successfully")
    frames
  }

  def main(argsIn: Array[String]): Unit = {
    val verbose = argsIn.contains("--verbose")
    val args = argsIn.filterNot(_.startsWith("--"))
    require(args.nonEmpty,
      "usage: RunPipeline <metadata.json> [dataflowName] [inputPathOverride] [--verbose]")
    val spark = GraftSession.local("graft-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0), args.lift(1), args.lift(2), verbose)
    finally spark.stop()
  }
}
