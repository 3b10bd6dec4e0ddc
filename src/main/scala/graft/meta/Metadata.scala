package graft.meta

/**
 * Typed model of a graft dataflow specification.
 *
 * Mirrors the metadata surface of the reference engine
 * (reference: metadata_motor.json:1-260, src/metadata_loader.py:11-24):
 * a pipeline is `sources -> named transformations -> sinks`, fully
 * declared in JSON so no business logic is hardcoded. graft compiles
 * each spec straight into Catalyst `Column`/`DataFrame` trees, so the
 * optimizer sees the whole metadata-driven plan (pushdown, pruning,
 * constant folding all apply).
 */
final case class PipelineSpec(dataflows: Seq[DataflowSpec],
    schedule: Option[ScheduleSpec] = None) {
  def dataflow(name: String): DataflowSpec =
    dataflows.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"Dataflow '$name' not found; have ${dataflows.map(_.name).mkString(", ")}"))
}

final case class DataflowSpec(
    name: String,
    sources: Seq[SourceSpec],
    transformations: Seq[TransformSpec],
    sinks: Seq[SinkSpec])

/** reference: src/reader.py:11-47 — named source with format + path. */
final case class SourceSpec(
    name: String,
    path: String,
    format: String,
    options: Map[String, String] = Map.empty)

/** reference: main.py:47-78 — sink with format, saveMode, 1+ paths. */
final case class SinkSpec(
    input: String,
    name: String,
    paths: Seq[String],
    format: String,
    saveMode: String,                  // overwrite | append | ignore | error |
                                       // merge | snapshot | agg_maintain | erase
                                       // (erase: input rows carry keys to
                                       // forget; each path = an existing
                                       // snapshot table getting one
                                       // merge-on-read deletion-vector commit)
    partitionBy: Seq[String] = Nil,
    layout: String = "none",           // none | range | zorder
    layoutKeys: Seq[String] = Nil,
    layoutPartitions: Int = 0,
    // saveMode=merge: key column for the copy-on-write upsert into the
    // hive-partitioned target (operators.Merge); rows whose optional
    // `__deleted` boolean is true are delete keys, the rest upserts
    mergeKey: String = "",
    // saveMode=agg_maintain: maintain a grouped-aggregate table
    // (operators.IncrementalAgg) from a CHANGE frame — rows whose
    // optional `__removed` boolean is true are OLD versions whose
    // contribution is subtracted, the rest are added; a missing
    // target bootstraps from the added rows. Delta-sized work at any
    // corpus size — the declarative read-side twin of saveMode=merge.
    // saveMode=snapshot: commit into a VERSIONED snapshot table
    // (operators.Snapshot) — create at v1 if the table is missing,
    // else a copy-on-write merge commit (same `__deleted` delete-key
    // convention as saveMode=merge); every commit is atomic across
    // partitions and time-travel readable (source format "snapshot",
    // option "version"). statsCols declares per-file min/max columns
    // the manifest tracks for data-skipping reads.
    statsCols: Seq[String] = Nil,
    // saveMode=snapshot: columns getting a per-file BLOOM filter in
    // the manifest at bootstrap (operators.Snapshot bloomCols) — the
    // point-lookup existence index for Snapshot.prune/read.
    bloomCols: Seq[String] = Nil,
    // saveMode=snapshot: columns getting a per-file portable HLL
    // sketch at bootstrap (operators.Snapshot hllCols) — the
    // manifest-only distinct-count path of aggStats.
    hllCols: Seq[String] = Nil,
    aggGroupBy: Seq[String] = Nil,
    aggSums: Seq[String] = Nil,
    // saveMode=snapshot: named CHECK constraints (SQL boolean
    // expressions over the incoming rows) fixed at table bootstrap;
    // every later commit — metadata-driven or programmatic — is
    // rejected atomically if an incoming row violates one. SQL CHECK
    // null semantics: a NULL predicate passes (use `x IS NOT NULL`).
    constraints: Map[String, String] = Map.empty,
    // saveMode=snapshot: table-level commit GUARDS fixed at bootstrap
    // (operators.Snapshot guards): "min_rows" and "max_shrink_pct" —
    // every later commit that would leave fewer visible rows than
    // min_rows, or shrink the table by more than max_shrink_pct in
    // one commit, is rejected at publish time (rollback exempt). The
    // bad-upstream circuit breaker, enforced by manifest math alone.
    guards: Map[String, String] = Map.empty,
    // saveMode=snapshot: table-level EXPECTATION suite fixed at
    // bootstrap (operators.Snapshot expects; Expectations grammar
    // minus subset) — evaluated on the incoming frame of create and
    // EVERY later merge, rejecting a bad delivery before anything is
    // written; the dataset-quality sibling of `constraints` (row
    // CHECKs) and `guards` (manifest math)
    expects: Seq[String] = Nil,
    // saveMode=snapshot: WRITE-AUDIT-PUBLISH suite (Expectations
    // grammar minus subset) evaluated on the POST-MERGE TABLE STATE
    // while it is still staged (operators.Snapshot.wapMerge) — a
    // failing audit aborts the stage, so the bad state never becomes
    // a version. Complements `expects` (the incoming-delivery gate).
    audit: Seq[String] = Nil,
    // saveMode=snapshot: NON-ADDITIVE schema evolution steps applied
    // to an EXISTING target BEFORE the commit (skipped at bootstrap —
    // the incoming frame already carries the final schema). Grammar:
    // "rename:old->new", "drop:col", "widen:col:bigint". Each step is
    // IDEMPOTENT (an already-applied rename/drop/widen is skipped),
    // so scheduled re-runs are safe — the declarative migration step
    // a pipeline carries in config instead of a one-off DDL script.
    evolve: Seq[String] = Nil,
    // saveMode=snapshot: TAG the committed version with this name
    // (operators.Snapshot.tag — vacuum-proof pin, re-tagging moves the
    // name). Under a Schedule, `${run_date}` interpolates before
    // parsing, so `"corpus-${run_date}"` pins every scheduled commit
    // to its logical date — the reproducibility handle a training run
    // reads back via readTag / source option `tag`.
    snapshotTag: String = "")

sealed trait TransformSpec {
  def name: String
  def input: String
}

/** reference: src/transformations.py:137-213 (normalize_fields). */
final case class NormalizeSpec(
    name: String,
    input: String,
    output: String,
    fields: Seq[FieldMapping],
    autoFlattenNaming: String = "snake_case")
  extends TransformSpec

final case class FieldMapping(name: String, sources: Seq[String])

/** reference: src/transformations.py:216-239 (drop_columns). */
final case class DropColumnsSpec(name: String, input: String, output: String, columns: Seq[String])
  extends TransformSpec

/** reference: src/transformations.py:242-262 (select_columns). */
final case class SelectColumnsSpec(name: String, input: String, output: String, columns: Seq[String])
  extends TransformSpec

/** reference: src/transformations.py:265-285 (add_fields). */
final case class AddFieldsSpec(name: String, input: String, output: String, fields: Seq[AddedField])
  extends TransformSpec

/**
 * One added metadata field: either a supported function
 * ("current_timestamp") or a constant literal.
 */
final case class AddedField(name: String, function: Option[String], literal: Option[String] = None)

/** reference: src/validator.py:117-173 (validate_fields). */
final case class ValidateSpec(
    name: String,
    input: String,
    okOutput: String,
    koOutput: String,
    rules: Seq[ValidationRule])
  extends TransformSpec

/** Checks are the reference's string mini-language, e.g. "min:18". */
final case class ValidationRule(field: String, checks: Seq[String])

/** graft extension: SQL-expression row filter. */
final case class FilterSpec(name: String, input: String, output: String, condition: String)
  extends TransformSpec

/**
 * graft extension: equi-join of two named frames. `broadcast` may
 * name "right" or "left" to hint the build side (dimension joins at
 * scale should broadcast; the default lets Catalyst/AQE decide).
 */
final case class JoinSpec(
    name: String,
    input: String,
    rightInput: String,
    output: String,
    on: Seq[String],
    how: String = "inner",
    broadcastSide: Option[String] = None,
    // optional pre-flight: parquet paths holding CMS sketches
    // (binary `sketch` column) of the two join keys; when both are
    // set, Dataflow logs the cms_join_size cardinality estimate
    // before planning the join — a sketch-sized sanity check that a
    // fact-fact join won't explode, with NO plan change
    leftSketch: Option[String] = None,
    rightSketch: Option[String] = None)
  extends TransformSpec

/** graft extension: grouped aggregation with SQL aggregate exprs. */
final case class AggregateSpec(
    name: String,
    input: String,
    output: String,
    groupBy: Seq[String],
    aggs: Seq[NamedExpr])
  extends TransformSpec

final case class NamedExpr(name: String, expr: String)

/**
 * graft extension: free-form SQL over the named frames (each frame is
 * visible as a temp view named after itself).
 */
final case class SqlSpec(name: String, input: String, output: String, query: String)
  extends TransformSpec

/**
 * graft extension: deduplication step over a content column.
 * `method`: exact | ngram_jaccard | minhash_lsh | simhash |
 * embedding_cosine. `mode`: "filter" (default) keeps one canonical
 * row per duplicate group / drops the higher id of each near-dup
 * pair; "pairs" emits the pair frame itself; "clusters" emits the
 * connected-component labels (doc_id, cluster_id); "cluster_filter"
 * keeps only each component's min-id canonical (plus unpaired rows).
 */
final case class DedupTransformSpec(
    name: String,
    input: String,
    output: String,
    method: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    mode: String = "filter",
    threshold: Double = 0.8,
    // mode=keep_best ranks each cluster by this column (default:
    // content length) and keeps only the top member
    scoreCol: Option[String] = None,
    // method=ngram_jaccard: persisted ShingleStats artifact (frequent
    // set + df moments) — loaded when the file exists, computed AND
    // saved when it doesn't; the train-once lifecycle codebook_path
    // gives ann, here for the PPJoin family
    statsPath: Option[String] = None,
    // cluster modes, set-similarity methods: "auto" (default — pick
    // from measured band-bucket candidate-mass skew,
    // Dedup.chooseClusterStrategy), "one_wave"
    // (Dedup.nearDupClusters, CC over banded-LSH verified pairs),
    // "star_repair" (Dedup.nearDupComponents banded — the
    // clique-heavy-regime path: a page cloned 10⁵× verifies at
    // linear mass instead of C(c,2) per family), or "exact"
    // (Dedup.nearDupComponents prefix — labels exactly equal
    // duplicateClusters(ngramJaccard): no LSH miss probability, at
    // Σdf²-shaped candidate cost; the banded strategies miss a
    // just-above-threshold pair with prob (1−t²)^16 — negligible at
    // t=0.8, ~1% at t=0.5)
    clusterStrategy: String = "auto")
  extends TransformSpec

/**
 * graft extension: remove rows whose normalized content fingerprint
 * appears in another named frame (the benchmark/eval set) — the
 * declarative decontamination step.
 */
final case class DecontaminateSpec(
    name: String,
    input: String,
    benchInput: String,
    output: String,
    contentCol: String = "text",
    benchContentCol: String = "text")
  extends TransformSpec

/**
 * graft extension: DATASET-level expectations
 * ([[graft.operators.Expectations]]) — `checks` strings compile to the
 * suite (`row_count:lo-hi`, `unique:a+b`, `null_bp:col:maxBp`,
 * `range:col:lo-hi`, `min_per_group:col:minRows`,
 * `accepted_values:col:a|b|c`, `subset:col:frame.refCol`); `output` receives the
 * report frame; `failOnViolation` turns the transform into a GATE that
 * aborts the pipeline (no sink runs) with the failing checks named.
 */
final case class ExpectSpec(
    name: String,
    input: String,
    output: String,
    checks: Seq[String],
    failOnViolation: Boolean = false)
  extends TransformSpec

/**
 * graft extension: split documents into fixed-size overlapping
 * character windows (context-window chunking). Output: (idCol,
 * chunk_id, chunk_text).
 */
final case class ChunkSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    size: Int = 512,
    overlap: Int = 64)
  extends TransformSpec

/**
 * graft extension: append text-analysis columns. `analyses` from
 * {tokens, quality, langid, fingerprint, repetition, redact}.
 */
final case class TextAnalysisSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    analyses: Seq[String] = Seq("quality"),
    blocklistTerms: Seq[String] = Nil)
  extends TransformSpec

/**
 * graft extension: deterministic stratified sampling — keep each row
 * with its stratum's fraction, decided by the id hash (no RNG, no
 * shuffle). Strata absent from `fractions` keep `defaultFraction`.
 */
final case class StratifiedSampleSpec(
    name: String,
    input: String,
    output: String,
    strataCol: String,
    idCol: String = "doc_id",
    fractions: Map[String, Double] = Map.empty,
    defaultFraction: Double = 1.0)
  extends TransformSpec

/**
 * graft extension: token-budget sequence packing — assigns each row
 * to the training sequence in which it starts, packing independently
 * per hash shard.
 */
final case class PackSpec(
    name: String,
    input: String,
    output: String,
    tokensCol: String,
    idCol: String = "doc_id",
    budget: Int = 2048,
    shards: Int = 8)
  extends TransformSpec

/**
 * graft extension: deterministic hash-based train/val/test split —
 * appends a `split` column that is a pure function of the id.
 */
final case class SplitSpec(
    name: String,
    input: String,
    output: String,
    idCol: String = "doc_id",
    trainPct: Int = 80,
    valPct: Int = 10)
  extends TransformSpec

/**
 * graft extension: approximate-nearest-neighbor retrieval over an
 * embedding column — the declarative surface for the similarity
 * catalog. `method`: lsh | ivf | brute. Output frame: (id,
 * neighbor_id, cos_sim, rank) with rank 1..k. `codebookPath` points
 * at a persisted IVF codebook (`Similarity.saveCentroids`) so
 * cluster runs reuse a train-once artifact instead of retraining
 * per pipeline.
 */
final case class AnnSpec(
    name: String,
    input: String,
    output: String,
    method: String = "lsh",
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    k: Int = 10,
    tables: Int = 8,
    bits: Int = 8,
    nlist: Int = 0,
    nprobe: Int = 0,
    codebookPath: Option[String] = None,
    pqPath: Option[String] = None,
    threshold: Double = 0.95,
    // cross-frame serving: when set, `input` is the CORPUS and this
    // frame is the query batch (methods ivf / brute). ivf keeps
    // self-matches (membership signal, see Similarity.ivfSearch);
    // brute keeps bruteForceTopK's same-id exclusion.
    queriesInput: Option[String] = None,
    // FILTERED ANN (method ivf): SQL predicate over corpus columns,
    // pre-filter semantics (Similarity.ivfSearchWhere) — exactly the
    // restricted-corpus result, pruned before distance compute
    where: Option[String] = None)
  extends TransformSpec

/**
 * graft extension: hashed linear quality-classifier scoring
 * (fastText-style model serving). Weights load from `weightsPath`
 * (a parquet/csv of (bucket, weight) written at training time) or
 * fall back to the deterministic synthetic stand-in model for demo
 * flows. Adds integer `logit` and boolean `keep` columns.
 */
final case class ClassifySpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    buckets: Int = 4096,
    bias: Long = 0L,
    threshold: Long = 0L,
    weightsPath: Option[String] = None)
  extends TransformSpec

/**
 * graft extension: corpus version delta — classify ids across two
 * named frames (old vs new snapshot) as added / removed / updated /
 * unchanged by content hash. Output frame: (doc_id, status,
 * old_hash, new_hash).
 */
final case class VersionDeltaSpec(
    name: String,
    input: String,
    newInput: String,
    output: String,
    idCol: String = "doc_id",
    contentCol: String = "text")
  extends TransformSpec

/**
 * graft extension: export sharding — (shard_id, pos_in_shard) under
 * the seeded global permutation, `docsPerShard` rows per shard.
 */
final case class ShardSpec(
    name: String,
    input: String,
    output: String,
    idCol: String = "doc_id",
    seed: String = "graft",
    docsPerShard: Int = 1024)
  extends TransformSpec

/**
 * graft extension: ordered event funnel — users per furthest stage
 * of `steps`, matched in `ordCol` order. Output: (stage, n_users).
 */
final case class FunnelSpec(
    name: String,
    input: String,
    output: String,
    steps: Seq[String],
    userCol: String = "user_id",
    ordCol: String = "event_id",
    typeCol: String = "event_type")
  extends TransformSpec

/**
 * graft extension: weekly cohort retention by first `cohortType`
 * event. Output: (cohort_week, week_offset, n_active).
 */
final case class CohortSpec(
    name: String,
    input: String,
    output: String,
    cohortType: String,
    userCol: String = "user_id",
    tsCol: String = "ts",
    typeCol: String = "event_type")
  extends TransformSpec

/**
 * graft extension: blocked fuzzy (edit-distance) self-join — pairs
 * within `maxDist`, candidates blocked on a `blockPrefix`-char key
 * prefix. Output: (id_a, id_b, dist).
 */
final case class FuzzySpec(
    name: String,
    input: String,
    output: String,
    keyCol: String,
    idCol: String = "doc_id",
    blockPrefix: Int = 8,
    maxDist: Int = 1,
    method: String = "levenshtein",   // levenshtein | jaro_winkler
    minSim: Double = 0.9)             // jaro_winkler threshold
  extends TransformSpec

/**
 * graft extension: per-document lexical familiarity vs the corpus'
 * own vocabulary — instance-weighted mean token document frequency
 * and OOV rate (token df < minDf). Output frame:
 * (idCol, n_tokens, mean_df, oov_frac).
 */
final case class FamiliaritySpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    minDf: Int = 3)
  extends TransformSpec

/**
 * graft extension: duplicate n-gram coverage — per document, the
 * fraction of its positional n-gram instances whose n-gram occurs in
 * ≥ minDocs distinct documents (the substring-dedup diagnostic).
 * Output frame: (idCol, n_ngrams, n_dup, dup_frac).
 */
final case class DupNgramCoverageSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    n: Int = 5,
    minDocs: Int = 2)
  extends TransformSpec

/**
 * graft extension: √-temperature corpus mixing — downsample each
 * stratum toward √-flattened shares (keep fraction √(n_min/n_s)),
 * decided by the id hash. The multilingual/multi-source rebalancing
 * step, declaratively.
 */
final case class MixSpec(
    name: String,
    input: String,
    output: String,
    strataCol: String,
    idCol: String = "doc_id")
  extends TransformSpec

/**
 * graft extension: BM25 corpus search — top-k documents for a bag of
 * query terms (rational log-free idf, deterministic cross-engine).
 */
final case class SearchSpec(
    name: String,
    input: String,
    output: String,
    terms: Seq[String],
    contentCol: String = "text",
    idCol: String = "doc_id",
    k: Int = 20)
  extends TransformSpec

/**
 * graft extension: per-group embedding centroids (fixed-point exact
 * accumulation — partitioning-invariant results).
 */
final case class CentroidsSpec(
    name: String,
    input: String,
    output: String,
    labelCol: String = "label",
    vecCol: String = "embedding")
  extends TransformSpec

/**
 * graft extension: per-group document cap — at most `maxN` rows per
 * group, chosen by deterministic hash order (the "N pages per domain"
 * rule).
 */
final case class CapSpec(
    name: String,
    input: String,
    output: String,
    groupCol: String,
    idCol: String = "doc_id",
    maxN: Int = 1000)
  extends TransformSpec

/**
 * graft extension: per-group quantile gate — keep rows whose metric
 * reaches their group's exact q-quantile (relative quality filter).
 */
final case class QuantileGateSpec(
    name: String,
    input: String,
    output: String,
    groupCol: String,
    metricCol: String,
    q: Double = 0.5)
  extends TransformSpec

/**
 * graft extension: epoch upsampling — repeat each row `weight_expr`
 * times (a SQL expression over the row), tagged with a 1-based
 * `epoch`; weight 0 drops.
 */
final case class UpsampleSpec(
    name: String,
    input: String,
    output: String,
    weightExpr: String)
  extends TransformSpec

/**
 * graft extension: seeded deterministic global training order —
 * appends `order_id`, the exact global rank of md5(seed ‖ id).
 */
final case class GlobalOrderSpec(
    name: String,
    input: String,
    output: String,
    idCol: String = "doc_id",
    seed: String = "graft")
  extends TransformSpec

/**
 * graft extension: per-source boilerplate line removal — drops every
 * line repeating in ≥ minDf documents of the same source; output has
 * (id, text_clean, n_kept, n_dropped).
 */
final case class BoilerplateSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    sourceCol: String = "source",
    minDf: Int = 10)
  extends TransformSpec

/**
 * graft extension: C4-style line filtering — keep lines ending in
 * terminal punctuation with ≥ minWords words, drop javascript/cookie
 * lines, drop lorem-ipsum/brace documents whole; output has
 * (id, text_clean, n_kept, n_dropped).
 */
final case class C4CleanSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    minWords: Int = 3)
  extends TransformSpec

/**
 * graft extension: corpus-wide paragraph dedup — keeps only the
 * canonical first occurrence of every duplicated paragraph; output
 * has (id, text_clean, n_kept, n_dropped).
 */
final case class ParagraphDedupSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id")
  extends TransformSpec

/**
 * graft extension: sentence-boundary chunking — one row per sentence
 * with its 0-based in-doc position.
 */
final case class SentencesSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id")
  extends TransformSpec

/**
 * graft extension: CCNet-style text normalization — appends
 * `text_norm` (lowercase, controls/whitespace collapsed; `strip_punct`
 * also maps ASCII punctuation to spaces).
 */
final case class NormalizeTextSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    stripPunct: Boolean = false)
  extends TransformSpec

/**
 * graft extension: exact-N deterministic sample — first n of the
 * seeded global permutation.
 */
final case class TakeSpec(
    name: String,
    input: String,
    output: String,
    n: Long,
    idCol: String = "doc_id",
    seed: String = "graft")
  extends TransformSpec

/**
 * graft extension: Efraimidis-Spirakis weighted reservoir sample —
 * exactly n rows, inclusion probability proportional to `weightCol`,
 * deterministic under `seed`.
 */
final case class WeightedSampleSpec(
    name: String,
    input: String,
    output: String,
    n: Long,
    weightCol: String,
    idCol: String = "doc_id",
    seed: String = "graft",
    groupCol: String = "")            // non-empty = n rows PER GROUP
  extends TransformSpec

/**
 * graft extension: n-gram LM quality scoring (CCNet-shaped) — train
 * add-α-smoothed bigram counts on `referenceInput` (default: the
 * input itself) and emit (id, n_bigrams, bits_per_token, ppl).
 */
final case class LmScoreSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    referenceInput: String = "",      // empty = train on the input
    minCount: Long = 2L,
    alpha: Double = 0.5)
  extends TransformSpec

/**
 * graft extension: exact substring dedup (Lee et al. '21) — remove
 * every repeated ≥`window`-token span corpus-wide except its
 * canonical first occurrence; output carries (doc_id, text_dedup,
 * n_tokens, n_removed).
 */
final case class SubstringDedupSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    window: Int = 50)
  extends TransformSpec

/**
 * graft extension: BPE tokenizer induction + encoding — train
 * `numMerges` merges on the input corpus (or load a persisted table
 * from `mergesPath`) and add a `bpe_tokens` subword-array column.
 *
 * NOTE: with an empty `mergesPath`, training runs AT PLAN TIME (the
 * merge table must exist to build the encode expression) — the one
 * transform whose compile is not free. Scheduled / repeatedly-planned
 * pipelines should train once and set `merges_path`, like the
 * classifier's `weights_path` and the ANN codebook paths.
 */
final case class BpeTokenizeSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    numMerges: Int = 200,
    mergesPath: String = "")          // non-empty = load instead of train
  extends TransformSpec

/**
 * graft extension: join-key skew diagnostic — top-N heaviest values
 * of a key. `method`: "exact" groups and counts (count + share
 * columns); "cms" ranks by Count-Min frequency ESTIMATES from one
 * fixed-size sketch (est_n column) — the shape the probe takes when
 * the key space is too wide to groupBy.
 */
final case class KeyHistogramSpec(
    name: String,
    input: String,
    output: String,
    keyCol: String,
    topN: Int = 20,
    method: String = "exact")          // exact | cms
  extends TransformSpec

/**
 * graft extension: top repeated spans report — the k most frequent
 * `window`-token windows corpus-wide with instance and distinct-doc
 * counts (what IS all that repeated boilerplate?). Output: (span,
 * n_inst, n_docs).
 */
final case class TopSpansSpec(
    name: String,
    input: String,
    output: String,
    contentCol: String = "text",
    idCol: String = "doc_id",
    window: Int = 8,
    k: Int = 20)
  extends TransformSpec

/**
 * graft extension: reciprocal-rank fusion
 * ([[graft.operators.Search.rrfFuse]]) of two or more ranked frames
 * (each `(doc_id, rank)`), named by `rankedInputs` — the hybrid
 * lexical∪vector retrieval step; `input` is the first ranked frame.
 */
final case class RrfSpec(
    name: String,
    input: String,
    output: String,
    rankedInputs: Seq[String],
    fuseK: Int = 60,
    topK: Int = 10)
  extends TransformSpec

/** graft extension: SCD2 attribute history
  * ([[graft.operators.Versioning.scd2]]) from an event stream. */
final case class Scd2Spec(
    name: String,
    input: String,
    output: String,
    keyCol: String,
    tsCol: String,
    attrCol: String,
    tieCol: String)
  extends TransformSpec

/** graft extension: fixed-point PageRank
  * ([[graft.operators.Graph.pageRank]]) over an edge frame. */
final case class PageRankSpec(
    name: String,
    input: String,
    output: String,
    srcCol: String = "src",
    dstCol: String = "dst",
    iterations: Int = 5,
    // L1 early-exit threshold: 0 = stop at the exact integer fixed
    // point (result provably identical to the full unroll), negative
    // = always run `iterations` (no per-iteration action)
    convergeL1: Long = -1L)
  extends TransformSpec

/**
 * graft extension: symmetric int8 scalar quantization of an embedding
 * column — the 4×-smaller vector STORE (per-vector scale = max|x|/127).
 * Output: (idCol, q_scale double, q array<tinyint>); reconstruct with
 * q * q_scale.
 */
final case class QuantizeSpec(
    name: String,
    input: String,
    output: String,
    vecCol: String = "embedding",
    idCol: String = "vec_id")
  extends TransformSpec

/** reference: src/transformations.py:330-369 (compute_stats).
  * `distinctMode` picks the distinct-count strategy: "auto"
  * (size-gated, the default), "exact", "approx" (Spark HLL++), or
  * "approx_portable" (graft's md5-hashed mergeable HLL whose
  * estimates any md5-capable engine replays bit-for-bit). */
final case class ComputeStatsSpec(
    name: String,
    input: String,
    fields: Option[Seq[String]],
    includeValidationStats: Boolean,
    okInput: Option[String],
    koInput: Option[String],
    outputPath: Option[String],
    distinctMode: String = "auto")     // auto | exact | approx | approx_portable
  extends TransformSpec
