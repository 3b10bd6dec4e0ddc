package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Blocked FUZZY (edit-distance) join — the entity-resolution
 * primitive of every dirty-data pipeline (the reference's domain,
 * motor-insurance records, is exactly where near-identical names,
 * plates and addresses need reconciling). All-pairs Levenshtein is
 * O(n²·L²) and unshuffleable at scale; the standard fix is BLOCKING:
 * candidates must share a cheap deterministic block key (a prefix, a
 * phonetic code, a length bucket — caller-supplied Column), so the
 * join is a plain hash shuffle on the block key and the quadratic
 * cost is confined to each block. Recall is bounded by the blocking
 * function (pairs differing inside the block key are unseen) — the
 * classic, documented trade; pick the key to put the "stable" part
 * of the entity in it.
 *
 * `levenshtein` is Spark's codegen'd native expression; the DuckDB
 * oracle uses its identical classic-DP `levenshtein`, so distances
 * (integers) are cross-engine exact.
 */
object Fuzzy {

  /**
   * Pairs (id_a, id_b, key_a, key_b, dist) with dist ≤ maxDist,
   * id_a < id_b, candidates blocked on `block(key)`. Self-join form:
   * pass the same frame/columns for both sides.
   *
   * SKEW GUARD: per-block cost is O(|block|²·L²) and the plain
   * blocked join lands each block on ONE task — a dirty blocking key
   * (everyone in the same city, an empty-name block) goes quadratic
   * on a single straggler at scale. `saltBuckets = S > 1` switches to
   * GRID-SALTED pairing: every row gets a bucket u = hash(id) mod S,
   * the a-side is replicated across grid cells (u, 0..S-1) and the
   * b-side across (0..S-1, v), so the pair (x, y) meets in EXACTLY
   * one cell (uₓ, v_y) — results are identical to the unsalted join
   * (spec-asserted), but a hot block's pair work spreads over S²
   * shuffle keys, bounding per-task pairs at ~(|block|/S)². The cost
   * is S× replication of the block's rows through the shuffle — the
   * standard triangle-decomposition trade. Run [[StatsOp.keyHistogram]]
   * over the blocking key to decide: a top block holding a double-digit
   * share of rows is the signal to salt.
   */
  def selfFuzzyPairs(df: DataFrame, id: Column, key: Column,
                     block: Column => Column, maxDist: Int,
                     saltBuckets: Int = 1): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    selfCandidates(df, id, key, block, saltBuckets)
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")))
      .filter(col("dist") <= maxDist)
  }

  /**
   * Similarity-mode sibling of [[selfFuzzyPairs]]: Jaro-Winkler ≥
   * `minSim` instead of edit distance ≤ maxDist — the scorer record
   * linkage prefers for human-entered names (transposition-tolerant,
   * prefix-rewarding; see
   * [[graft.functions.StringSimExprs.JaroWinklerExpr]]). Same blocked
   * + grid-salted candidate machinery, same skew guard; `sim` is
   * rounded at 6 dp (cross-engine hash stability).
   */
  def selfSimilarityPairs(df: DataFrame, id: Column, key: Column,
                          block: Column => Column, minSim: Double,
                          saltBuckets: Int = 1): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0, "minSim must be in [0, 1]")
    selfCandidates(df, id, key, block, saltBuckets)
      .withColumn("sim", round(
        graft.functions.StringSimExprs.jaroWinkler(col("key_a"), col("key_b")), 6))
      .filter(col("sim") >= minSim)
  }

  /**
   * MULTI-PASS blocking: union the pairs of several blocking keys and
   * deduplicate — the standard recall fix when no single cheap key
   * covers every true match (a prefix pass only sees suffix typos,
   * a suffix pass only prefix/middle typos; their union sees every
   * single-substitution pair). Cost is additive in the passes, each
   * pass keeps its own hash-shuffle plan, and the dedup exchange
   * carries only (id_a, id_b, score) — never keys or text.
   */
  def multiPassFuzzyPairs(df: DataFrame, id: Column, key: Column,
                          blocks: Seq[Column => Column], maxDist: Int,
                          saltBuckets: Int = 1): DataFrame = {
    require(blocks.nonEmpty, "need at least one blocking pass")
    dedupPasses(blocks.map(b =>
      selfFuzzyPairs(df, id, key, b, maxDist, saltBuckets)))
  }

  /** Cross-pass dedup keyed on the ids ONLY: keys and score are
    * functionally determined by (id_a, id_b), so a groupBy(ids) +
    * `first` dedups on the 16-byte id pair (map-side combine collapses
    * within-partition repeats before the exchange) instead of a
    * distinct() that hashes and compares the full row including both
    * key strings. */
  private def dedupPasses(passes: Seq[DataFrame]): DataFrame =
    passes.reduce(_.unionAll(_))
      .groupBy("id_a", "id_b")
      .agg(first(col("key_a")).as("key_a"), first(col("key_b")).as("key_b"),
        first(col("dist")).as("dist"))

  /** Blocked (and optionally grid-salted) candidate pairs
    * (id_a < id_b): the shared core of both scoring modes. */
  private def selfCandidates(df: DataFrame, id: Column, key: Column,
                             block: Column => Column,
                             saltBuckets: Int): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    val side = Scale.ensureParallelism(df)
      .select(id.as("id"), key.as("key"), block(key).as("blk"))
    val (a, b) =
      if (saltBuckets == 1) (side.as("a"), side.as("b"))
      else {
        val bucket = pmod(xxhash64(col("id")), lit(saltBuckets)).cast("int")
        val grid = explode(sequence(lit(0), lit(saltBuckets - 1)))
        // EXPLICIT-count repartition on the grid keys: the whole point
        // of salting is spreading pair COMPUTE, but the salted rows are
        // only a few MB — AQE's byte-based coalescing would merge the
        // join back onto one task and re-concentrate the quadratic work
        // (measured: salt=16 2.4× SLOWER than unsalted under
        // coalescing). REPARTITION_BY_NUM exchanges are exempt from
        // AQE coalescing, and the equi-join reuses them directly.
        val n = df.sparkSession.sessionState.conf.numShufflePartitions
        (side.withColumn("sa", bucket).withColumn("sb", grid)
           .repartition(n, col("blk"), col("sa"), col("sb")).as("a"),
         side.withColumn("sb", bucket).withColumn("sa", grid)
           .repartition(n, col("blk"), col("sa"), col("sb")).as("b"))
      }
    val saltCond =
      if (saltBuckets == 1) lit(true)
      else col("a.sa") === col("b.sa") && col("a.sb") === col("b.sb")
    a.join(b, col("a.blk") === col("b.blk") && saltCond && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"))
  }
}
