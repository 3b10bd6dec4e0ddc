package graft

import graft.meta._
import graft.operators._
import graft.sinks.Writers
import graft.sources.Readers
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The metadata-driven dataflow engine: compiles a [[meta.DataflowSpec]]
 * into Spark plans and (optionally) writes its sinks
 * (reference: main.py:81-175 `run_pipeline`,
 * src/transformations.py:288-377 `apply_transformations`).
 *
 * Everything is lazy plan composition — no action happens in
 * [[plan]]; Catalyst sees the complete metadata-driven pipeline and
 * optimizes across transformation boundaries (e.g. a `select_columns`
 * late in the flow still prunes the source scan).
 *
 * Diagnostics go to log4j (`graft.Dataflow`), as the sinks' do.
 */
object Dataflow {
  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.Dataflow")

  /** Compile all transformations; returns every named frame. */
  def plan(spark: SparkSession, flow: DataflowSpec,
           inputs: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] =
    compile(spark, flow, inputs)._1

  /** The frames a compute_stats report's validation sections come from,
    * when its OK and KO inputs are a validate_fields step's outputs. */
  private final case class Validated(rules: Seq[ValidationRule], ok: DataFrame,
                                     ko: DataFrame, validationStats: DataFrame,
                                     topErrors: DataFrame)

  /** [[plan]], plus each compute_stats report's [[Validated]] frames by
    * report name. */
  private def compile(spark: SparkSession, flow: DataflowSpec,
                      inputs: Map[String, DataFrame])
      : (Map[String, DataFrame], Map[String, Validated]) = {
    var splits = Vector.empty[(Seq[ValidationRule], DataFrame, DataFrame)]
    val validated = Map.newBuilder[String, Validated]
    // the graft SQL kernels (hll_sketch/dd_sketch/… — mergeable sketch
    // aggregates in particular) must resolve inside `aggregate`/`sql`/
    // `filter` expressions of a JSON-declared flow; registration is
    // idempotent, so make the whole catalog reachable unconditionally
    graft.functions.GraftFunctions.register(spark)
    val sourceFrames: Map[String, DataFrame] =
      flow.sources.map(s => s.name -> Readers.read(spark, s)).toMap

    val frames = flow.transformations.foldLeft(inputs ++ sourceFrames) { (frames, t) =>
      def in = frames.getOrElse(t.input,
        throw new IllegalArgumentException(s"transformation '${t.name}': unknown input '${t.input}'"))
      t match {
        case s: NormalizeSpec =>
          frames + (s.output -> Normalize.normalizeFields(in, s.fields, s.autoFlattenNaming))
        case s: DropColumnsSpec =>
          frames + (s.output -> Projection.dropColumns(in, s.columns))
        case s: SelectColumnsSpec =>
          frames + (s.output -> Projection.selectColumns(in, s.columns))
        case s: AddFieldsSpec =>
          frames + (s.output -> Projection.addFields(in, s.fields))
        case s: ValidateSpec =>
          val (ok, ko) = Validate.split(in, s.rules)
          splits :+= ((s.rules, ok, ko))
          frames + (s.okOutput -> ok) + (s.koOutput -> ko)
        case s: FilterSpec =>
          frames + (s.output -> in.filter(org.apache.spark.sql.functions.expr(s.condition)))
        case s: JoinSpec =>
          val right = frames.getOrElse(s.rightInput,
            throw new IllegalArgumentException(
              s"join '${s.name}': unknown right input '${s.rightInput}'"))
          // pre-flight cardinality hint: when the spec points at
          // persisted CMS sketches of both join keys, log the
          // cms_join_size estimate (one-sided: never under) BEFORE
          // the join plans. Sketch-sized IO, no job over the facts,
          // and strictly a log — the plan below is unchanged.
          for (lp <- s.leftSketch; rp <- s.rightSketch) {
            // the hint is advisory: a missing/malformed sketch log
            // must not fail the pipeline it merely annotates
            try {
              val est = joinSizeHint(spark, lp, rp)
              log.info(s"[dataflow] join '${s.name}': estimated join " +
                s"cardinality <= $est (cms_join_size over $lp x $rp)")
            } catch {
              case scala.util.control.NonFatal(e) =>
                log.warn(s"[dataflow] join '${s.name}': cardinality " +
                  s"pre-flight skipped (${e.getMessage})")
            }
          }
          val (l, r) = s.broadcastSide.map(_.toLowerCase) match {
            case Some("left")  => (org.apache.spark.sql.functions.broadcast(in), right)
            case Some("right") => (in, org.apache.spark.sql.functions.broadcast(right))
            case _             => (in, right)
          }
          frames + (s.output -> l.join(r, s.on, s.how))
        case s: AggregateSpec =>
          import org.apache.spark.sql.functions.{col, expr}
          val aggs = s.aggs.map(a => expr(a.expr).as(a.name))
          val out =
            if (s.groupBy.isEmpty) in.agg(aggs.head, aggs.tail: _*)
            else in.groupBy(s.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
          frames + (s.output -> out)
        case s: SqlSpec =>
          // every named frame is visible to the query as a temp view
          frames.foreach { case (n, df) => df.createOrReplaceTempView(n) }
          frames + (s.output -> spark.sql(s.query))
        case s: DedupTransformSpec =>
          import org.apache.spark.sql.functions.col
          val content = col(s.contentCol)
          val id = col(s.idCol)
          // stats_path: load the train-once ShingleStats artifact
          // when present; compute-and-save when not (the scheduled
          // re-run then skips the frequency aggregation entirely)
          def jaccardStats = s.statsPath.map { p =>
            if (graft.operators.LogStore.forPath(p).exists(p))
              Dedup.loadShingleStats(p)
            else {
              val st = Dedup.shingleStats(in, content, id)
              Dedup.saveShingleStats(p, st)
              st
            }
          }
          def pairs = s.method match {
            case "ngram_jaccard" =>
              Dedup.ngramJaccard(in, content, id, threshold = s.threshold,
                statsIn = jaccardStats)
            case "minhash_lsh" =>
              Dedup.minhashLshVerified(in, content, id, threshold = s.threshold)
            case "simhash" =>
              Dedup.simhash(in, content, id)
            case "embedding_cosine" =>
              Similarity.lshDupPairs(in, id, content, threshold = s.threshold)
                .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
            case other =>
              throw new IllegalArgumentException(s"dedup '${s.name}': unknown method '$other'")
          }
          // cluster consumers never need the quadratic exact pair
          // set — the set-similarity methods route to banded-LSH
          // candidates (volume tracks duplicate mass, not Σdf²):
          // one_wave for ordinary corpora, star_repair for the
          // clique-heavy regime, auto (default) picks from the
          // measured band-bucket candidate-mass skew. Both banded
          // strategies carry the standard LSH miss probability on
          // just-above-threshold pairs ((1−t²)^16 — ~8e-8 at t=0.8
          // but ~1% at t=0.5); `exact` keeps the prefix-filter
          // no-false-negative guarantee (labels ≡
          // duplicateClusters(ngramJaccard)) at Σdf²-shaped candidate
          // cost. Other methods' pair frames feed the CC directly.
          require(Set("auto", "one_wave", "star_repair", "exact")
              .contains(s.clusterStrategy),
            s"dedup '${s.name}': unknown cluster_strategy '${s.clusterStrategy}'")
          def clusters = s.method match {
            case "ngram_jaccard" | "minhash_lsh" =>
              val strat = s.clusterStrategy match {
                case "auto" => Dedup.chooseClusterStrategy(in, content, id)
                case other => other
              }
              strat match {
                case "exact" =>
                  Dedup.nearDupComponents(in, content, id,
                    threshold = s.threshold, candidates = "prefix",
                    statsIn = jaccardStats)
                case "star_repair" =>
                  Dedup.nearDupComponents(in, content, id,
                    threshold = s.threshold, candidates = "banded")
                case _ =>
                  Dedup.nearDupClusters(in, content, id, threshold = s.threshold)
              }
            case _ => Dedup.duplicateClusters(pairs)
          }
          val validModes = Set("filter", "pairs", "clusters", "cluster_filter",
            "keep_best")
          require(validModes.contains(s.mode),
            s"dedup '${s.name}': unknown mode '${s.mode}' (expected one of ${validModes.mkString(", ")})")
          require(s.method != "exact" || s.mode == "filter" || s.mode == "pairs",
            s"dedup '${s.name}': mode '${s.mode}' needs a near-dup method (exact dedup has no pair graph)")
          val out = (s.method, s.mode) match {
            case ("exact", "pairs") =>
              // the duplicate-group report frame itself: one row per
              // distinct content with its canonical id + copy count
              Dedup.exact(in, content, id)
            case ("exact", _) =>
              // one canonical row (min id) per distinct content
              in.join(Dedup.exact(in, content, id)
                  .select(col("doc_id").as(s.idCol)), Seq(s.idCol), "left_semi")
            case (_, "pairs") => pairs
            case (_, "clusters") =>
              // connected-component labels over the near-dup graph
              clusters
            case (_, "cluster_filter") =>
              // keep only each component's min-id canonical (plus
              // rows that appear in no pair at all)
              in.join(clusters
                  .filter(col("cluster_id") =!= col("doc_id"))
                  .select(col("doc_id").as(s.idCol)),
                Seq(s.idCol), "left_anti")
            case (_, "keep_best") =>
              // quality-aware canonical: each component survives
              // through its highest-scored member (default score:
              // content length)
              val score = s.scoreCol.map(col).getOrElse(
                org.apache.spark.sql.functions.length(content).cast("double"))
              Dedup.dedupKeepBestClusters(in, id, score, clusters)
            case (_, _) =>
              // drop the higher id of every near-dup pair
              in.join(pairs.select(col("doc_b").as(s.idCol)).distinct(),
                Seq(s.idCol), "left_anti")
          }
          frames + (s.output -> out)
        case s: TextAnalysisSpec =>
          import org.apache.spark.sql.functions._
          val c = col(s.contentCol)
          val out = s.analyses.foldLeft(in) { (df, a) => a match {
            case "tokens" => df
              .withColumn("n_ws_tokens", TextAnalysisCols.wsTokenCount(c))
              .withColumn("n_bpe_tokens", TextAnalysisCols.bpeTokenCount(c))
            case "quality" =>
              df.select(col("*") +: TextAnalysisCols.qualityFeatures(c): _*)
            case "langid" =>
              df.withColumn("lang_pred", TextAnalysisCols.langId(c))
            case "fingerprint" => df
              .withColumn("fp_exact", md5(c))
              .withColumn("fp_norm", TextAnalysisCols.normFingerprint(c))
            case "repetition" =>
              val toks = TextAnalysisCols.wsTokens(lower(c))
              val n = size(toks)
              df.withColumn("repetition_ratio",
                when(n === 0, lit(0.0))
                  .otherwise(lit(1.0) - size(array_distinct(toks)).cast("double") / n))
            case "redact" => df
              .withColumn("text_redacted", graft.functions.Redaction.redactPii(c))
              .withColumn("n_pii", graft.functions.Redaction.piiCount(c))
            case "gopher" =>
              df.select(col("*") +: TextAnalysisCols.gopherFeatures(c): _*)
            case "gopher_rep" =>
              df.select(col("*") +: TextAnalysisCols.gopherRepFeatures(c): _*)
            case "script" =>
              df.select(col("*") +: TextAnalysisCols.scriptProfile(c): _*)
            case "blocklist" =>
              require(s.blocklistTerms.nonEmpty,
                s"text_analysis '${s.name}': analysis 'blocklist' needs a " +
                  "non-empty blocklist_terms list")
              df.withColumn("n_blocked",
                TextAnalysisCols.blocklistHits(c, s.blocklistTerms))
            case "entropy" =>
              val e = graft.functions.TextFeatures.entropyStruct(c)
              df.withColumn("n_codepoints", e.getField("n_codepoints"))
                .withColumn("n_distinct_chars", e.getField("n_distinct_chars"))
                .withColumn("char_entropy", e.getField("char_entropy"))
                .withColumn("entropy_ratio", e.getField("entropy_ratio"))
            case other =>
              throw new IllegalArgumentException(
                s"text_analysis '${s.name}': unknown analysis '$other'")
          }}
          frames + (s.output -> out)
        case s: ChunkSpec =>
          frames + (s.output -> Chunking.chunk(in,
            org.apache.spark.sql.functions.col(s.contentCol),
            org.apache.spark.sql.functions.col(s.idCol), s.size, s.overlap))
        case s: RrfSpec =>
          val ranked = s.rankedInputs.map { f =>
            f -> frames.getOrElse(f, throw new IllegalArgumentException(
              s"rrf '${s.name}': unknown ranked input '$f'")) }
          frames + (s.output -> Search.rrfFuse(ranked, s.fuseK, s.topK))
        case s: Scd2Spec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Versioning.scd2(in,
            col(s.keyCol), col(s.tsCol), col(s.attrCol), col(s.tieCol)))
        case s: PageRankSpec =>
          import org.apache.spark.sql.functions.col
          val edges = in.select(col(s.srcCol).as("src"), col(s.dstCol).as("dst"))
          frames + (s.output ->
            Graph.pageRank(edges, s.iterations, convergeL1 = s.convergeL1))
        case s: ExpectSpec =>
          import org.apache.spark.sql.functions.col
          val checks = s.checks.map(Expectations.parse(_,
            f => frames.getOrElse(f, throw new IllegalArgumentException(
              s"expect '${s.name}': unknown reference frame '$f'"))))
          val rep = Expectations.report(in, checks)
          if (s.failOnViolation) {
            val bad = rep.filter(!col("ok")).collect()
            if (bad.nonEmpty) throw new IllegalStateException(
              s"expectations '${s.name}' failed: " + bad.map(r =>
                s"${r.getString(0)} (observed=${r.getLong(2)})").mkString("; "))
          }
          frames + (s.output -> rep)
        case s: DecontaminateSpec =>
          val bench = frames.getOrElse(s.benchInput,
            throw new IllegalArgumentException(
              s"decontaminate '${s.name}': unknown bench input '${s.benchInput}'"))
          frames + (s.output -> Dedup.decontaminate(in,
            org.apache.spark.sql.functions.col(s.contentCol),
            bench, org.apache.spark.sql.functions.col(s.benchContentCol)))
        case s: AnnSpec =>
          import org.apache.spark.sql.functions.col
          val idC = col(s.idCol)
          val vecC = col(s.vecCol)
          // cross-frame serving: `input` is the corpus, queries_input
          // the query batch (ivf/brute only — the top-k contract)
          val queriesFrame = s.queriesInput.map(q => frames.getOrElse(q,
            throw new IllegalArgumentException(
              s"ann '${s.name}': unknown queries_input '$q'")))
          require(queriesFrame.isEmpty || Set("ivf", "brute")(s.method),
            s"ann '${s.name}': queries_input supports methods ivf|brute " +
              s"(got '${s.method}')")
          require(s.where.isEmpty || s.method == "ivf",
            s"ann '${s.name}': where (filtered ANN) supports method ivf " +
              s"(got '${s.method}')")
          val out = s.method match {
            case "lsh" =>
              Similarity.lshTopK(in, idC, vecC, s.k, s.tables, s.bits)
            case "ivf" =>
              val cb = s.codebookPath.map(Similarity.loadCentroids)
              val corpus = s.where.map(w => in.filter(
                org.apache.spark.sql.functions.expr(w))).getOrElse(in)
              queriesFrame match {
                case Some(qf) =>
                  Similarity.ivfSearch(qf, corpus, idC, vecC, s.k, s.nlist, s.nprobe, cb)
                case None =>
                  Similarity.ivfTopK(corpus, idC, vecC, s.k, s.nlist, s.nprobe, cb)
              }
            case "brute" =>
              Similarity.bruteForceTopK(queriesFrame.getOrElse(in), in, idC, vecC, s.k)
            case "ivf_pq" =>
              // both codebooks are train-once artifacts; paths load
              // them, absence trains here (same sizing as `ivf`)
              val cells = s.codebookPath.map(Similarity.loadCentroids).getOrElse {
                val lists = if (s.nlist > 0) s.nlist
                  else math.max(16, math.ceil(math.sqrt(Scale.estimatedRows(in))).toInt)
                Similarity.trainKmeans(in, idC, vecC, lists)
              }
              val pq = s.pqPath.map(Similarity.loadPqCodebook)
                .getOrElse(Similarity.trainPqCodebook(in, idC, vecC))
              val probes = if (s.nprobe > 0) s.nprobe else math.max(4, cells.length / 8)
              Similarity.ivfPqTopK(in, idC, vecC, s.k, probes, cells, pq)
            case "semdedup" =>
              // codebook from the persisted artifact when given, else
              // trained here (same auto-sizing as ivfTopK)
              val cents = s.codebookPath.map(Similarity.loadCentroids).getOrElse {
                val lists = if (s.nlist > 0) s.nlist
                  else math.max(16, math.ceil(math.sqrt(Scale.estimatedRows(in))).toInt)
                Similarity.trainKmeans(in, idC, vecC, lists)
              }
              Similarity.semDedup(in, idC, vecC, cents, s.threshold)
            case other =>
              throw new IllegalArgumentException(s"ann '${s.name}': unknown method '$other'")
          }
          frames + (s.output -> out)
        case s: ClassifySpec =>
          import org.apache.spark.sql.functions.col
          val weights = s.weightsPath
            .map(p => Scoring.loadWeights(spark, p, s.buckets))
            .getOrElse(Scoring.syntheticWeights(s.buckets))
          frames + (s.output -> Scoring.classifyQuality(
            in, col(s.contentCol), weights, s.bias, s.threshold))
        case s: VersionDeltaSpec =>
          import org.apache.spark.sql.functions.col
          val neu = frames.getOrElse(s.newInput,
            throw new IllegalArgumentException(
              s"version_delta '${s.name}': unknown new input '${s.newInput}'"))
          frames + (s.output -> Versioning.delta(in, neu,
            col(s.idCol), col(s.contentCol), col(s.idCol), col(s.contentCol)))
        case s: ShardSpec =>
          frames + (s.output -> Sampling.exportShards(in,
            org.apache.spark.sql.functions.col(s.idCol), s.seed, s.docsPerShard))
        case s: FunnelSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Funnel.counts(in,
            col(s.userCol), col(s.ordCol), col(s.typeCol), s.steps))
        case s: CohortSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Funnel.cohortRetention(in,
            col(s.userCol), col(s.tsCol), col(s.typeCol), s.cohortType))
        case s: FuzzySpec =>
          import org.apache.spark.sql.functions.{col, substring}
          val blk = (k: org.apache.spark.sql.Column) => substring(k, 1, s.blockPrefix)
          val pairs = s.method match {
            case "levenshtein" => Fuzzy.selfFuzzyPairs(
              in, col(s.idCol), col(s.keyCol), blk, maxDist = s.maxDist)
            case "jaro_winkler" => Fuzzy.selfSimilarityPairs(
              in, col(s.idCol), col(s.keyCol), blk, minSim = s.minSim)
            case other => throw new IllegalArgumentException(
              s"fuzzy '${s.name}': unknown method '$other' (levenshtein|jaro_winkler)")
          }
          frames + (s.output -> pairs)
        case s: FamiliaritySpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Chunking.lexicalFamiliarity(
            in, col(s.contentCol), col(s.idCol), s.minDf))
        case s: DupNgramCoverageSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Dedup.dupNgramCoverage(
            in, col(s.contentCol), col(s.idCol), s.n, s.minDocs))
        case s: SplitSpec =>
          frames + (s.output -> Sampling.hashSplit(
            in, org.apache.spark.sql.functions.col(s.idCol), s.trainPct, s.valPct))
        case s: StratifiedSampleSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Sampling.stratifiedSample(
            in, col(s.strataCol), col(s.idCol), s.fractions, s.defaultFraction))
        case s: PackSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Sampling.packSequences(in,
            shard = Sampling.hashBucket(col(s.idCol)) % s.shards,
            id = col(s.idCol), tokens = col(s.tokensCol), budget = s.budget))
        case s: MixSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Sampling.sqrtTemperatureMix(
            in, col(s.strataCol), col(s.idCol)))
        case s: SearchSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Search.bm25(
            in, col(s.contentCol), col(s.idCol), s.terms, topK = s.k))
        case s: CentroidsSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Similarity.labelCentroids(
            in, col(s.labelCol), col(s.vecCol)))
        case s: KeyHistogramSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> (s.method match {
            case "exact" => StatsOp.keyHistogram(in, col(s.keyCol), s.topN)
            case "cms" => StatsOp.keyHistogramApprox(in, col(s.keyCol), s.topN)
            case other => throw new IllegalArgumentException(
              s"key_histogram '${s.name}': unknown method '$other' (exact|cms)")
          }))
        case s: TopSpansSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Dedup.topSpans(
            in, col(s.contentCol), col(s.idCol), w = s.window, k = s.k))
        case s: QuantizeSpec =>
          frames + (s.output -> Similarity.quantizeInt8(in, s.idCol, s.vecCol))
        case s: CapSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Sampling.capPerGroup(
            in, col(s.groupCol), col(s.idCol), s.maxN))
        case s: QuantileGateSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Sampling.quantileGate(
            in, col(s.groupCol), col(s.metricCol), s.q))
        case s: UpsampleSpec =>
          frames + (s.output -> Sampling.upsampleEpochs(
            in, org.apache.spark.sql.functions.expr(s.weightExpr)))
        case s: GlobalOrderSpec =>
          frames + (s.output -> Sampling.globalOrder(
            in, org.apache.spark.sql.functions.col(s.idCol), s.seed))
        case s: BoilerplateSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Chunking.stripBoilerplate(
            in, col(s.contentCol), col(s.idCol), col(s.sourceCol), s.minDf))
        case s: ParagraphDedupSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Dedup.dedupParagraphs(
            in, col(s.contentCol), col(s.idCol)))
        case s: C4CleanSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Chunking.c4Clean(
            in, col(s.contentCol), col(s.idCol), s.minWords))
        case s: SentencesSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Chunking.sentences(
            in, col(s.contentCol), col(s.idCol)))
        case s: NormalizeTextSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> in.withColumn("text_norm",
            TextAnalysisCols.normalizeText(col(s.contentCol), s.stripPunct)))
        case s: TakeSpec =>
          frames + (s.output -> Sampling.takeExactly(
            in, org.apache.spark.sql.functions.col(s.idCol), s.n, s.seed))
        case s: WeightedSampleSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output ->
            (if (s.groupCol.isEmpty)
              Sampling.weightedSample(in, col(s.idCol), col(s.weightCol), s.n, s.seed)
            else {
              // toIntExact, not toInt: a spec n above Int.MaxValue must
              // fail loudly at plan time, not silently wrap to a tiny
              // per-group sample
              require(s.n <= Int.MaxValue,
                s"weighted_sample '${s.name}': per-group n=${s.n} exceeds " +
                  s"Int.MaxValue (${Int.MaxValue})")
              Sampling.weightedSamplePerGroup(in, col(s.groupCol),
                col(s.idCol), col(s.weightCol), Math.toIntExact(s.n), s.seed)
            }))
        case s: LmScoreSpec =>
          import org.apache.spark.sql.functions.col
          val ref = if (s.referenceInput.isEmpty) in
            else frames.getOrElse(s.referenceInput,
              throw new IllegalArgumentException(
                s"lm_score '${s.name}': unknown reference input '${s.referenceInput}'"))
          val uni = LanguageModel.unigramCounts(ref, col(s.contentCol))
          val big = LanguageModel.bigramCounts(ref, col(s.contentCol), s.minCount)
          frames + (s.output -> LanguageModel.perplexity(
              in, col(s.idCol), col(s.contentCol), uni, big, s.alpha)
            .withColumnRenamed("id", s.idCol))
        case s: SubstringDedupSpec =>
          import org.apache.spark.sql.functions.col
          frames + (s.output -> Dedup.dedupSubstrings(
            in, col(s.contentCol), col(s.idCol), s.window))
        case s: BpeTokenizeSpec =>
          import org.apache.spark.sql.functions.col
          val merges =
            if (s.mergesPath.nonEmpty) Bpe.loadMerges(spark, s.mergesPath)
            else Bpe.trainMerges(in, col(s.contentCol), s.numMerges)
          frames + (s.output -> in.withColumn("bpe_tokens",
            Bpe.encode(col(s.contentCol), merges)))
        case s: ComputeStatsSpec =>
          // stats become named frames; sink them like any other
          // output. The input passes through under the transform name
          // (reference: src/transformations.py:373) so later steps can
          // chain off a compute_stats node.
          val (approxDistinct, portable) = s.distinctMode match {
            case "auto" => (None, false)
            case "exact" => (Some(false), false)
            case "approx" => (Some(true), false)
            case "approx_portable" => (Some(true), true)
            case other => throw new IllegalArgumentException(
              s"compute_stats '${s.name}': unknown distinct_mode '$other' " +
                "(auto|exact|approx|approx_portable)")
          }
          val stats = StatsOp.fieldStats(in, s.fields.getOrElse(Nil),
            approxDistinct, portable)
          val withField = frames + (s"${s.name}_fields" -> stats) + (s.name -> in)
          (s.okInput.flatMap(frames.get), s.koInput.flatMap(frames.get)) match {
            case (Some(ok), Some(ko)) if s.includeValidationStats =>
              val (vs, te) = (StatsOp.validationStatsFromSplit(ok, ko), StatsOp.topErrors(ko))
              splits.find { case (_, o, k) => (o eq ok) && (k eq ko) }
                .foreach { case (rules, _, _) =>
                  validated += s.name -> Validated(rules, ok, ko, vs, te) }
              withField + (s"${s.name}_validation" -> vs) + (s"${s.name}_top_errors" -> te)
            case _ => withField
          }
      }
    }
    (frames, validated.result())
  }

  /** Union every sketch row at `path` (parquet with a binary `sketch`
    * column, as `cms_sketch` persists) and estimate the inner-join
    * cardinality of the two sketched key columns with
    * [[graft.functions.CmsExprs.cmsJoinSize]]. One-sided (never
    * under-estimates); sketch-sized IO only — the facts themselves
    * are never read. */
  def joinSizeHint(spark: SparkSession, leftPath: String,
                   rightPath: String): Long = {
    import org.apache.spark.sql.functions.col
    val l = spark.read.parquet(leftPath)
      .agg(graft.functions.CmsExprs.cmsUnion(col("sketch")).as("lsk"))
    val r = spark.read.parquet(rightPath)
      .agg(graft.functions.CmsExprs.cmsUnion(col("sketch")).as("rsk"))
    l.crossJoin(r)
      .select(graft.functions.CmsExprs.cmsJoinSize(col("lsk"), col("rsk"))
        .as("est"))
      .first().getLong(0)
  }

  /**
   * Plan, then run the flow's terminal actions: every `compute_stats`
   * report with an `output_path`, then every sink. Returns the frames
   * for inspection.
   *
   * A report's validation summary and top errors ride its sinks when
   * its OK and KO inputs are a validate_fields step's outputs, and each
   * of the two is written by exactly one plain sink (saveMode
   * overwrite, one path, layout none) whose path overlaps no other
   * action's. The two sink writes observe the OK and KO row counts and
   * each error label's failure count (`Dataset.observe`), and run side
   * by side with the report's field-stats collect, in the report's
   * place. The report renders the two sections from those counts: one
   * SQL execution of its own instead of three, and the same JSON. Any
   * other shape collects the sections as [[StatsOp.writeStatsJson]]
   * does. If a ridden sink fails, the run throws and the report is not
   * written. A ridden report logs one INFO line with the counts.
   *
   * The actions run side by side in LANES ([[operators.Concurrently]]).
   * An action whose target paths overlap an earlier action's — the same
   * qualified path, or one an ancestor directory of the other — runs
   * after that action's lane, so the last declared write to a path wins,
   * as before. An action a retry cannot safely repeat (any saveMode but
   * overwrite, ignore and merge: an append or agg_maintain would count
   * its rows twice, an errorifexists would fail for good, a snapshot or
   * erase commit would add a version) runs after EVERY earlier lane, so
   * only once everything declared before it has succeeded, as in a
   * serial run — and after the sinks a report declared before it rides.
   * The lanes it waits for still run side by side; the other lanes run
   * at the same time.
   *
   * Failures: a failing action stops only what runs after it in its
   * lane. Every other lane runs to completion, then the failure of the
   * lane whose first action is declared first is rethrown with the
   * others suppressed — so `run` returns or throws only once no action
   * is still writing. A failing stats report no longer stops the
   * re-runnable sinks in other lanes. As before, actions that completed
   * are not undone: an append sink retried by [[ScheduleRunner]] writes
   * its rows again when an action declared after it failed.
   */
  def run(spark: SparkSession, flow: DataflowSpec,
          inputs: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    val (frames, validated) = compile(spark, flow, inputs)
    val rides = ridden(spark, flow, frames, validated)
    val reports = flow.transformations.collect {
      case s: ComputeStatsSpec if s.outputPath.isDefined => rides.get(s.name) match {
        case Some(r) =>
          (s.outputPath.get +: (r.ok.paths ++ r.ko.paths), false, () =>
            writeRiding(s.name, s.outputPath.get, frames(s"${s.name}_fields"), r))
        case None =>
          (Seq(s.outputPath.get), false, () =>
            StatsOp.writeStatsJson(s.name, s.outputPath.get,
              frames(s"${s.name}_fields"),
              frames.get(s"${s.name}_validation"),
              frames.get(s"${s.name}_top_errors")))
      }
    }
    val riddenSinks = rides.values.flatMap(r => Seq(r.ok, r.ko)).toSet
    val sinks = flow.sinks.filterNot(riddenSinks).map { sink =>
      (sink.paths, !RerunSafeModes(sink.saveMode.toLowerCase), () => {
        val df = frames.getOrElse(sink.input,
          throw new IllegalArgumentException(s"sink '${sink.name}': unknown input '${sink.input}'"))
        Writers.write(df, sink)
      })
    }
    Concurrently(lanes(spark, reports ++ sinks))
    frames
  }

  /** Sink saveModes whose write a retry may repeat with the same result. */
  private val RerunSafeModes = Set("overwrite", "ignore", "merge")

  /** A report whose validation sections ride the sinks writing its OK
    * and KO frames. */
  private final case class Ride(validated: Validated, ok: SinkSpec, ko: SinkSpec)

  /** The reports whose validation sections can ride their sinks (see
    * [[run]]), by report name. A sink carries at most one report. */
  private def ridden(spark: SparkSession, flow: DataflowSpec,
                     frames: Map[String, DataFrame],
                     validated: Map[String, Validated]): Map[String, Ride] = {
    val qualified = qualifier(spark)
    val reports = flow.transformations.collect {
      case s: ComputeStatsSpec if s.outputPath.isDefined => s }
    def plain(k: SinkSpec) =
      k.saveMode.equalsIgnoreCase("overwrite") && k.paths.size == 1 && k.layout == "none"
    def same(name: String, df: DataFrame) = frames.get(name).exists(_ eq df)
    def writer(input: Option[String]) = flow.sinks.filter(k => input.contains(k.input)) match {
      case Seq(k) if plain(k) => Some(k)
      case _ => None
    }
    reports.foldLeft(Map.empty[String, Ride]) { (acc, s) =>
      val ride = for {
        v <- validated.get(s.name)
        if s.okInput.exists(same(_, v.ok)) && s.koInput.exists(same(_, v.ko)) &&
          same(s"${s.name}_validation", v.validationStats) &&
          same(s"${s.name}_top_errors", v.topErrors)
        ok <- writer(s.okInput)
        ko <- writer(s.koInput)
        if !acc.values.exists(r => r.ok == ok || r.ko == ko)
        own = Seq(ok, ko).flatMap(_.paths.flatMap(qualified))
        others = (reports.flatMap(_.outputPath) ++
          flow.sinks.filterNot(k => k == ok || k == ko).flatMap(_.paths)).flatMap(qualified)
        if own.size == 2 && !overlaps(own(0), own(1)) &&
          !own.exists(p => others.exists(overlaps(p, _)))
      } yield Ride(v, ok, ko)
      acc ++ ride.map(s.name -> _)
    }
  }

  /** How long a ridden report waits for its observed counts once both
    * sink writes returned. They arrive through the listener bus, within
    * milliseconds; past this bound the report collects the sections. */
  private val ObservedWait = scala.concurrent.duration.Duration(10, "s")

  /** Write report `name` whose validation sections ride `r`'s sinks: the
    * field-stats collect and both sink writes side by side, then the
    * report from the counts the writes observed. */
  private def writeRiding(name: String, dir: String, fieldStats: DataFrame,
                          r: Ride): String = {
    import org.apache.spark.sql.Observation
    val labels = Validate.labels(r.validated.rules)
    // unique per run: concurrent runs in one session read their own counts
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val (okSeen, koSeen) = (Observation(s"graft_ok_$id"), Observation(s"graft_ko_$id"))
    def observed(df: DataFrame, o: Observation, metrics: Seq[org.apache.spark.sql.Column]) =
      df.observe(o, metrics.head, metrics.tail: _*)
    val Seq(fields: StatsOp.Section, _, _) = Concurrently(Seq[() => Any](
      () => StatsOp.collected(fieldStats),
      () => Writers.write(observed(r.validated.ok, okSeen, StatsOp.okMetrics), r.ok),
      () => Writers.write(observed(r.validated.ko, koSeen, StatsOp.koMetrics(labels)), r.ko)))
    // both writes returned normally, so both observations are complete
    // or on their way: wait for them, bounded
    val counts = scala.util.Try(Seq(okSeen, koSeen).map(o =>
      scala.concurrent.Await.result(o.future, ObservedWait))).toOption
    val (validation, top) = counts match {
      case Some(Seq(ok, ko)) =>
        val failures = labels.zipWithIndex.map { case (label, i) =>
          label -> (if (ko.isNullAt(i + 1)) 0L else ko.getLong(i + 1))
        }
        log.info(s"[dataflow] stats '$name': ok=${ok.getLong(0)} ko=${ko.getLong(0)}, " +
          "failures " + failures.map { case (l, n) => s"$l=$n" }.mkString(", ") +
          s" (observed on sinks '${r.ok.name}' and '${r.ko.name}')")
        StatsOp.observedSections(r.validated.validationStats, r.validated.topErrors,
          ok.getLong(0), ko.getLong(0), failures)
      case _ =>
        log.warn(s"[dataflow] stats '$name': observed counts did not arrive within " +
          s"$ObservedWait; collecting the validation sections")
        val Seq(v, t) = Concurrently(Seq(r.validated.validationStats, r.validated.topErrors)
          .map(df => () => StatsOp.collected(df)))
        (v, t)
    }
    StatsOp.writeSections(name, dir, fields, Some(validation), Some(top))
  }

  /** Qualify a path with Hadoop; None for a path it cannot qualify. */
  private def qualifier(spark: SparkSession): String => Option[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    p => scala.util.Try {
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }.toOption
  }

  /** The same path, or one an ancestor directory of the other. */
  private def overlaps(a: Path, b: Path): Boolean = {
    def within(a: Path, b: Path) =
      Iterator.iterate(b)(_.getParent).takeWhile(_ != null).contains(a)
    within(a, b) || within(b, a)
  }

  /** Build lanes from `(target paths, after every earlier action,
    * action)` triples: an action's lane first runs, side by side, every
    * earlier lane one of its targets overlaps — every earlier lane at
    * all when it must run after them — then the action. Lanes come in
    * the order of their first action. A path Hadoop cannot qualify
    * overlaps nothing — its own write reports the error. */
  private def lanes(spark: SparkSession,
                    actions: Seq[(Seq[String], Boolean, () => Any)]): Seq[() => Any] = {
    val qualified = qualifier(spark)
    case class Lane(first: Int, targets: Seq[Path], run: () => Any)
    actions.zipWithIndex.foldLeft(Vector.empty[Lane]) {
      case (acc, ((paths, afterAll, action), i)) =>
        val targets = paths.flatMap(qualified)
        val (before, rest) = acc.partition(l =>
          afterAll || l.targets.exists(p => targets.exists(overlaps(p, _))))
        val lane = Lane(before.headOption.fold(i)(_.first),
          before.flatMap(_.targets) ++ targets,
          () => { Concurrently(before.map(_.run)); action() })
        (rest :+ lane).sortBy(_.first)
    }.map(_.run)
  }
}
