package graft.operators

import graft.TextAnalysisCols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines.
 *
 * Scale design: nothing here is O(n²) over the corpus. Every near-dup
 * variant reduces to (1) a per-document signature computed in one
 * codegen'd projection, then (2) a shuffle keyed on a bucket that
 * provably contains all qualifying pairs (shared shingle / LSH band /
 * SimHash chunk — pigeonhole), then (3) pair verification bounded to
 * same-bucket candidates. At 100 TB the shuffle key cardinality is
 * what matters; all bucket keys here are well-distributed hashes.
 */
object Dedup {

  // operator diagnostics (route decisions, convergence warnings) go
  // through log4j, not stdout: visible under a driver's log config,
  // silent under a harness capturing stdout
  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.operators.Dedup")

  /**
   * Exact dedup: group by content, keep the minimum id as the
   * canonical representative. Output: (fp, doc_id, n_copies).
   * At scale: group on md5(content) instead of raw content to keep
   * shuffle rows narrow — done here (the fp IS the group key).
   */
  def exact(df: DataFrame, content: Column, id: Column): DataFrame =
    df.select(md5(content).as("fp"), id.as("__id"))
      .groupBy("fp")
      .agg(min(col("__id")).as("doc_id"), count(lit(1)).as("n_copies"))

  /**
   * Word k-shingles of the content, distinct per doc: (id, shingle).
   * Distinctness comes from the native [[graft.functions.TextHashExprs
   * .ShinglesExpr]] (per-document set), so no global `.distinct()`
   * shuffle is needed — one projection + explode.
   */
  def shingles(df: DataFrame, content: Column, id: Column, k: Int = 3): DataFrame =
    // repartition BEFORE the projection: the kernel must run on the
    // spread partitions, not serialize on the narrow scan
    Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
        explode(graft.functions.TextHashExprs.shingles(content, k)).as("shingle"))

  /**
   * n-gram Jaccard near-dup pairs via a PREFIX-FILTERED set-similarity
   * join (PPJoin-style; see Xiao et al., WWW'08): each document keeps
   * a sorted array of shingle hashes; only its first
   * `|s| - ⌈t·|s|⌉ + 1` hashes (its prefix under the global hash
   * order) generate join candidates — any pair with Jaccard ≥ t must
   * share a prefix element, so there are no false negatives, while
   * candidates shrink dramatically vs the join-on-every-shingle
   * formulation. Survivors are rescored exactly with an O(n+m)
   * sorted-merge intersection. Returns (doc_a, doc_b, inter, size_a,
   * size_b, jaccard) with jaccard ≥ threshold and doc_a < doc_b.
   *
   * At scale: candidate generation is a hash shuffle on prefix-hash
   * (bounded fan-out per doc), rescoring touches only candidate
   * pairs, and the doc payload carried through the join is one
   * long-array per side.
   *
   * Candidate pruning (both join-side, zero extra passes):
   *  - length filter: Jaccard ≥ t forces t·|a| ≤ |b| ≤ |a|/t —
   *    any pair violating the mutual size bound is dropped in the
   *    join condition before it materializes;
   *  - positional filter: a pair whose FIRST shared prefix element
   *    sits at 0-based positions (i, j) can overlap in at most
   *    min(|a|−i, |b|−j) elements, and Jaccard ≥ t needs overlap
   *    ≥ ⌈t/(1+t)·(|a|+|b|)⌉; occurrences that cannot reach that
   *    bound are dropped (the first-match occurrence of every true
   *    pair always survives, so no false negatives).
   */
  def ngramJaccard(df: DataFrame, content: Column, id: Column,
                   k: Int = 3, threshold: Double = 0.8,
                   freqOrdered: Boolean = true,
                   freqIn: Option[Array[Long]] = None,
                   statsIn: Option[ShingleStats] = None,
                   maxCandidatesPerDoc: Int = DefaultMaxCandidatesPerDoc): DataFrame = {
    // CANDIDATE-VOLUME PRE-FLIGHT (found by the r7 documents-x100
    // probe): on a VOCABULARY-BOUNDED corpus every shingle is
    // high-df, the (isFrequent, hash) order degenerates, and prefix
    // buckets go quadratic — 500k synthetic docs over ~30k distinct
    // 3-shingles produced ~1e9 candidate pairs (71 GB of shuffle
    // before the run died). The df aggregation the freq order
    // already pays yields the estimate for free:
    //   E[candidates] ≈ prefixFrac² · Σ_h df_h²,  prefixFrac ≈ (1-t) + 1/|s|
    // Past `maxCandidatesPerDoc` (0 disables) the operator routes to
    // [[minhashLshVerified]] — identical output contract, exact
    // rescoring, candidate volume governed by BAND collisions (the
    // whole-set hash) instead of per-shingle df, so the degenerate
    // corpus costs nothing extra. The trade is the standard LSH miss
    // probability, held ≤ 1e-6 AT ANY configured threshold by
    // [[bandedLayout]] (16 bands at t = 0.8; more bands, never a
    // weaker contract, at lower thresholds) — and only ever taken in
    // the regime where the exact path cannot run.
    val sigs = shingleSigs(df, content, id, k)
    val stats = statsIn.orElse {
      if (freqIn.isDefined || !freqOrdered || maxCandidatesPerDoc <= 0) None
      else Some(statsOf(sigs))
    }
    stats.filter(st => maxCandidatesPerDoc > 0 &&
        st.estCandidatesPerDoc(threshold) > maxCandidatesPerDoc) match {
      case Some(st) =>
        log.info(f"[graft] ngramJaccard: est. ${st.estCandidatesPerDoc(threshold)}%.0f " +
          s"candidates/doc > $maxCandidatesPerDoc — vocabulary-bounded corpus, " +
          "routing to minhashLshVerified (same contract, banded candidates)")
        minhashLshVerified(df, content, id, k, threshold = threshold)
      case None =>
        rescore(prefixCandidates(sigs, threshold, freqOrdered,
          freqIn = freqIn.orElse(stats.map(_.frequent))), sigs, threshold)
    }
  }

  /** Above this estimated candidate-pair count PER DOCUMENT,
    * [[ngramJaccard]] abandons prefix filtering for banded-LSH
    * candidates. At the catalog scales the estimate is ~20/doc; the
    * degenerate x100 probe corpus measures ~2000/doc. */
  val DefaultMaxCandidatesPerDoc: Int = 512

  /** Corpus shingle statistics: the frequent-set order artifact plus
    * the df moments the candidate pre-flight needs. Train-once per
    * corpus (same lifecycle as the IVF codebook); staleness is safe
    * for `frequent` (any consistent order is exact) and advisory for
    * the estimate. */
  final case class ShingleStats(frequent: Array[Long], nDocs: Long,
                                sumDfSq: Double, meanSize: Double) {
    /** prefixFrac² · Σdf² / n — expected prefix-join candidate pairs
      * per document at Jaccard threshold `t`. */
    def estCandidatesPerDoc(t: Double): Double =
      if (nDocs <= 0 || meanSize <= 0) 0.0
      else {
        val prefixFrac = math.min(1.0, (1.0 - t) + 1.0 / meanSize)
        prefixFrac * prefixFrac * sumDfSq / nDocs
      }
  }

  /** [[ShingleStats]] from a corpus — one explode+groupBy over the
    * cached signatures (the same aggregation the frequency order
    * already runs) plus two scalar actions on its output. */
  def shingleStats(df: DataFrame, content: Column, id: Column,
                   k: Int = 3, minDf: Int = 4,
                   cap: Int = 1 << 20): ShingleStats =
    statsOf(shingleSigs(df, content, id, k), minDf, cap)

  /** Persist / load the [[ShingleStats]] corpus artifact (text: one
    * header line `nDocs,sumDfSqBits,meanSizeBits` with doubles as
    * raw IEEE bits for exact round-trips, then one frequent hash per
    * line) — same train-once lifecycle as [[Similarity.saveCentroids]],
    * and what the metadata language's `stats_path` reads/writes. */
  def saveShingleStats(path: String, st: ShingleStats): Unit = {
    val sb = new StringBuilder
    sb.append(st.nDocs).append(',')
      .append(java.lang.Double.doubleToLongBits(st.sumDfSq)).append(',')
      .append(java.lang.Double.doubleToLongBits(st.meanSize)).append('\n')
    st.frequent.foreach(h => sb.append(h).append('\n'))
    LogStore.forPath(path).putReplace(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def loadShingleStats(path: String): ShingleStats = {
    val lines = new String(LogStore.forPath(path).read(path),
      java.nio.charset.StandardCharsets.UTF_8).split('\n').filter(_.nonEmpty)
    require(lines.nonEmpty, s"empty shingle-stats file: $path")
    val h = lines(0).split(",")
    ShingleStats(lines.drop(1).map(_.toLong),
      h(0).toLong,
      java.lang.Double.longBitsToDouble(h(1).toLong),
      java.lang.Double.longBitsToDouble(h(2).toLong))
  }

  private def statsOf(sigs: DataFrame, minDf: Int = 4,
                      cap: Int = 1 << 20): ShingleStats = {
    val grouped = sigs.select(explode(col("sh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val frequent = grouped.filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("h").asc)
      .limit(cap)
      .select("h").collect().map(_.getLong(0)).sorted
    val m = grouped.agg(
        coalesce(sum(col("df") * col("df")), lit(0L)).cast("double").as("df2"),
        coalesce(sum(col("df")), lit(0L)).cast("double").as("inst"))
      .collect()(0)
    val n = sigs.count()
    ShingleStats(frequent, n, m.getDouble(0),
      if (n == 0) 0.0 else m.getDouble(1) / n)
  }

  /** The cached (doc_id, sh) signature frame shared by the set-
    * similarity operators. Cached because it is referenced four times
    * (both prefix sides + both rescoring joins); without the cache an
    * expensive upstream (e.g. pipeline_docs' scored/filtered subtree)
    * is recomputed per reference. The cache is narrow — one
    * (id, hash-array) row per doc — and TRACKED: [[OpCache.releaseAll]]
    * drops it after the query's terminal action (graft.Verify/Bench do
    * this per query; library users call it between queries). */
  private[graft] def shingleSigs(df: DataFrame, content: Column, id: Column,
                                     k: Int): DataFrame =
    // repartition the INPUT, then project: the tokenize+hash kernel
    // is the expensive part and must run after the spread
    OpCache.cache(Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
          graft.functions.TextHashExprs.shingleHashes(content, k).as("sh"))
      .filter(col("sh").isNotNull))

  /**
   * PPJoin candidate generation over a (doc_id, sh) signature frame.
   * With `freqOrdered` (the default), one extra aggregation computes
   * per-shingle document frequencies and the top frequent set (df ≥ 4,
   * capped at 2²⁰ hashes ≈ 8 MB driver-side) is folded into a
   * [[graft.functions.TextHashExprs.FreqReorderExpr]]: each doc's
   * array is reordered under the global (isFrequent, hash) total
   * order before the prefix slice, so stopword shingles — present in
   * a large fraction of documents — can no longer occupy prefixes and
   * fan out quadratically on one join key. Correctness is order-
   * independent (any consistent total order keeps the prefix-filter
   * theorem's no-false-negative guarantee; positions for the
   * positional filter come from the same order on both sides).
   *
   * At 100 TB the frequency aggregation is one explode+groupBy over
   * the cached signatures — a bounded, well-distributed shuffle paid
   * once per corpus; a persisted/ sampled frequency set would also do.
   */
  private[graft] def prefixCandidates(sigs: DataFrame, threshold: Double,
                                          freqOrdered: Boolean,
                                          minDf: Int = 4,
                                          maxFreqSet: Int = 1 << 20,
                                          freqIn: Option[Array[Long]] = None,
                                          fpFilter: Boolean = true): DataFrame = {
    val freq = freqIn.getOrElse(
      if (freqOrdered) frequentSet(sigs, minDf, maxFreqSet)
      else Array.emptyLongArray)
    val prefixes = prefixFrame(sigs, threshold, freq)
    // PPJoin INDEX-PREFIX asymmetry (Xiao et al., TODS'11 §4): the
    // probing side keeps the full |s|−⌈t·|s|⌉+1 prefix, but the
    // INDEXED side only needs |s|−⌈2t/(1+t)·|s|⌉+1 — for any
    // qualifying pair with probe = the (sz, id)-larger record, the
    // required overlap α = ⌈t/(1+t)·(|a|+|b|)⌉ satisfies both
    // α ≥ ⌈t·|a|⌉ (via |b| ≥ t·|a|, the length filter) and
    // α ≥ ⌈2t/(1+t)·|b|⌉ (via |a| ≥ |b|), so the pair still shares a
    // (probing, indexing) prefix element under the common global
    // order. Zero false negatives (brute-force spec-locked). Measured
    // honestly (×10 corpus, t=0.8): the DISTINCT candidate-pair set
    // is unchanged — false pairs almost always re-qualify through a
    // low-position occurrence — so rescore mass does not move; the
    // win is join-side (≈45% fewer index rows per bucket probe →
    // fewer pre-distinct occurrence rows and probe compute), which is
    // what the asymmetry buys at any scale.
    val half = (col("sz") -
      epsCeil(lit(2 * threshold / (1 + threshold)) * col("sz")) + 1).cast("int")
    val indexed = prefixes.filter(col("p") < half)
    prefixes.as("a").join(indexed.as("b"),
        (col("a.sz") > col("b.sz") ||
          (col("a.sz") === col("b.sz") && col("a.doc_id") < col("b.doc_id"))) &&
          prefixJoinCond(threshold) &&
          (if (fpFilter) fpJoinCond(threshold) else lit(true)))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** Top frequent shingle hashes (document frequency ≥ minDf, capped),
    * sorted for the binary-search membership test in FreqReorderExpr.
    * One explode+groupBy aggregation over the cached signatures. */
  private def frequentSet(sigs: DataFrame, minDf: Int, maxFreqSet: Int): Array[Long] =
    sigs.select(explode(col("sh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("h").asc)
      .limit(maxFreqSet)
      .select("h").collect().map(_.getLong(0)).sorted

  /** (doc_id, sz, p, ph, f16): one row per prefix element of each
    * doc's shingle array under the global (isFrequent, hash) order,
    * carrying the doc's 16-BIT FINGERPRINT projection (the
    * VALUE-sorted `sh` mapped through `shiftright(h, 48)` — monotonic,
    * so still ascending-sorted; 2 bytes/element). The fingerprint
    * rides INTO the prefix join so the false-pair kill happens in the
    * join condition itself — see [[fpJoinCond]]. */
  private def prefixFrame(sigs: DataFrame, threshold: Double,
                          freq: Array[Long]): DataFrame = {
    val ordered =
      if (freq.isEmpty) col("sh")
      else graft.functions.TextHashExprs.freqReorder(col("sh"), freq)
    val prefixLen = (size(col("sh")) -
      epsCeil(lit(threshold) * size(col("sh"))) + 1).cast("int")
    // fingerprint CAPPED at [[PrefixFpCap]] elements: every catalog
    // doc sits far below the cap (full array, bound unchanged), while
    // a pathological long-document corpus — where the uncapped array
    // made prefix-row payload ~0.4·|sh|² bytes per doc — carries at
    // most 1 KB/row and degrades to the sound walk+allowance bound
    // (see [[fpJoinCond]]) instead of a quadratic shuffle
    sigs.select(col("doc_id"), size(col("sh")).as("sz"),
        transform(slice(col("sh"), 1, PrefixFpCap),
          h => shiftright(h, 48).cast("smallint")).as("f16"),
        element_at(col("sh"), least(lit(PrefixFpCap), size(col("sh"))))
          .as("flast"),
        posexplode(slice(ordered, lit(1), prefixLen)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "ph")
  }

  /** Per-row cap of the prefix-join fingerprint array (ADVICE r9: the
    * uncapped array scaled prefix-row payload quadratically in doc
    * length). 512 ≫ every catalog corpus's shingle count, so the
    * catalog bound stays the exact full-array intersection; only
    * longer documents fall back to the prefix+allowance form. */
  private val PrefixFpCap = 512

  /** Mutual length bound + positional max-overlap bound over the
    * "a"/"b" aliases (see [[ngramJaccard]]) — everything of the
    * prefix-join predicate EXCEPT the bucket-key equality. */
  private def prefixLenPosCond(threshold: Double): Column = {
    val minOverlap = epsCeil(lit(threshold / (1.0 + threshold)) *
      (col("a.sz") + col("b.sz")))
    col("a.sz") >= lit(threshold) * col("b.sz") &&
      col("b.sz") >= lit(threshold) * col("a.sz") &&
      least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) >= minOverlap
  }

  /** IN-JOIN fingerprint verification — the answer to "the candidate
    * stream is 99.1-99.9% false pairs, and each false pair ships two
    * full long arrays through the rescore joins" (measured: sf1 t=0.8
    * emits 2,929,082 candidates for 2,234 genuine pairs; the rescore
    * moved 1.76 GB). The prefix rows carry their doc's 16-bit
    * fingerprint array ([[prefixFrame]]), and this predicate — a
    * multiset merge-walk count that can only OVER-count the true
    * intersection (common elements always project to common
    * fingerprints; ~|a||b|/2¹⁶ ≈ 0.04 spurious matches/pair) —
    * requires the fingerprint intersection to reach the same
    * ⌈t/(1+t)·(|a|+|b|)⌉ overlap the exact verification needs. False
    * pairs die INSIDE the join, before the candidate distinct and the
    * array-shipping rescore ever see them; genuine pairs always pass
    * (upper-bound property), and survivors are still exact-rescored.
    * Evaluated AFTER the cheap length/positional bounds (And
    * short-circuit), so the merge walk only runs on
    * positionally-plausible bucket collisions. */
  private def fpJoinCond(threshold: Double): Column = {
    val minOverlap = epsCeil(lit(threshold / (1.0 + threshold)) *
      (col("a.sz") + col("b.sz")))
    val walk = graft.functions.VectorExprs.sortedShortIntersectCount(
      col("a.f16"), col("b.f16"))
    // docs under [[PrefixFpCap]] carry their FULL fingerprint
    // (allowance = 0 → the exact intersection bound, unchanged);
    // longer docs add the boundary-smaller side's suffix allowance —
    // the same soundness argument as [[fpBlockCond]]
    val allowance = when(col("a.flast") <= col("b.flast"),
      col("a.sz") - size(col("a.f16")))
      .otherwise(col("b.sz") - size(col("b.f16")))
    (walk + allowance) >= minOverlap
  }

  /** `ceil` with a ONE-SIDED floating-point guard for the PPJoin
    * bounds: the raw FP product can land a hair ABOVE the exact
    * rational value and cross an integer (t=0.84, sz=69: FP ceil 64
    * vs exact 63), which would SHORTEN a prefix / RAISE a required
    * overlap — the false-negative direction. Subtracting a relative +
    * absolute epsilon can only ever lower the ceiling by one, which
    * lengthens prefixes / admits extra candidates — rescoring keeps
    * the result exact. All PPJoin ceilings (prefix length, index
    * prefix, minOverlap) must come through here. */
  private def epsCeil(x: Column): Column =
    ceil(x - x * lit(1e-12) - lit(1e-9))

  /** Shared prefix-join predicate: equal prefix hash + mutual length
    * bound + positional max-overlap bound (see [[ngramJaccard]]). */
  private def prefixJoinCond(threshold: Double): Column =
    col("a.ph") === col("b.ph") && prefixLenPosCond(threshold)

  /** Exact-Jaccard rescoring of candidate (doc_a, doc_b) pairs against
    * the (doc_id, sh) signature frame: O(n+m) sorted-merge
    * intersection per pair, threshold filter, the shared output
    * contract (doc_a, doc_b, inter, size_a, size_b, jaccard). */
  private[graft] def rescore(cand: DataFrame, sigs: DataFrame, threshold: Double,
                             prefilter: Boolean = false): DataFrame = {
    import graft.functions.VectorExprs
    // OPTIONAL FINGERPRINT PRE-VERIFICATION (`prefilter`) — a
    // CALLER-OPT-IN stage for candidate streams too false-pair-heavy
    // to rescore directly. No catalog path needs it today: the exact
    // prefix paths measured it as a net loss at their ~30 k candidate
    // volumes (r9: cut bytes 1.9× but lost ~0.9 s of fixed join
    // overhead), and the simhash paths kill false pairs INSIDE their
    // blocking join ([[fpBlockCond]] — measured there: plain rescore
    // of the 105 M-pair sf1 stream cost 127 s / 18.3 GB vs 28 s /
    // 6.3 GB prefiltered, before the in-join bound removed the
    // stream itself). Kept for cluster callers with externally-built
    // candidate frames.
    // The candidate stream is dominated by FALSE pairs (measured at
    // sf0.1, t=0.8: 27,678 candidates → 256 genuine — 99.1% false),
    // and the cost of verifying one is shipping both docs' full
    // shingle arrays through the pair joins. Stage 1 therefore
    // verifies against 16-BIT FINGERPRINTS: each sorted hash array
    // projects to `shiftright(h, 48)` (monotonic → still sorted,
    // 2 bytes/element in the shuffle instead of 8), and the multiset
    // merge-walk count upper-bounds the true intersection (every
    // common element projects to a common fingerprint; random
    // collisions only ADD — |A||B|/2¹⁶ ≈ 0.04 expected spurious
    // matches per pair at catalog sizes). Pairs below the equivalent
    // overlap bound ⌈t/(1+t)·(|a|+|b|)⌉ are provably below threshold
    // and drop WITHOUT ever touching full arrays; stage 2 re-verifies
    // survivors (≈ genuine + ~0) exactly. Zero false negatives at ~4×
    // less verification shuffle; the two extra joins cost ~1 s of
    // fixed stage overhead, which is why small corpora skip the stage.
    //
    // (PPJoin+'s suffix filtering — Xiao et al. '08 — targets the
    // same false candidates, but tuple-at-a-time: it saves CPU on an
    // in-memory index probe. In a columnar shuffle-bound engine the
    // binding cost is bytes moved per candidate, which fingerprint
    // compression cuts directly and with a tighter bound than a
    // few suffix probes give.)
    //
    // shuffle_hash on the signature side: a sort-merge join would SORT
    // the signature frame (per-doc hash arrays — the widest thing in
    // this operator) once per side; hash-building a signature
    // partition is cheap and partition-bounded at any corpus size.
    // Measured at the degenerate x100 probe: the rescore SMJ sorts
    // were most of a 7.5 GB spill.
    val pairs = if (!prefilter) cand else {
      val fp = sigs.select(col("doc_id"),
        transform(col("sh"), h => shiftright(h, 48).cast("smallint")).as("f16"),
        size(col("sh")).as("fsz"))
      val minOverlap = epsCeil(lit(threshold / (1.0 + threshold)) *
        (col("sz_a") + col("sz_b")))
      cand
        .join(fp.select(col("doc_id").as("doc_a"), col("f16").as("f16_a"),
          col("fsz").as("sz_a")).hint("shuffle_hash"), "doc_a")
        .join(fp.select(col("doc_id").as("doc_b"), col("f16").as("f16_b"),
          col("fsz").as("sz_b")).hint("shuffle_hash"), "doc_b")
        .filter(VectorExprs.sortedShortIntersectCount(col("f16_a"), col("f16_b"))
          >= minOverlap)
        .select("doc_a", "doc_b")
    }
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        VectorExprs.sortedIntersectCount(col("sh_a"), col("sh_b")).cast("long").as("inter"),
        size(col("sh_a")).cast("long").as("size_a"),
        size(col("sh_b")).cast("long").as("size_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
  }

  /**
   * MinHash signatures in ONE projection (no explode, no shuffle):
   * `numHashes` permutations approximated by salted xxhash64 over
   * shingles, min-tracked inside the native
   * [[graft.functions.TextHashExprs.MinhashSigExpr]].
   * Output: (doc_id, sig: array<bigint>); docs with < k tokens are
   * dropped (they have no shingles).
   */
  def minhashSignatures(df: DataFrame, content: Column, id: Column,
                        k: Int = 3, numHashes: Int = 16): DataFrame =
    Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
          graft.functions.TextHashExprs.minhashSig(content, k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** (doc_id, sig, band, band_hash): one row per LSH band of each
    * (doc_id, sig) row — the banding kernel shared by the MinHash operators. */
  private[graft] def bandFrame(sig: DataFrame, bands: Int, rows: Int): DataFrame =
    sig.select(col("*"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /**
   * MinHash + LSH with EXACT verification: candidates from the band
   * join, rescored against the true shingle sets (sorted-merge
   * intersection, same kernel as [[ngramJaccard]]), so the output is
   * true-Jaccard pairs, not estimates. With a wide band layout
   * (default 32 hashes × 16 bands of 2 rows) the per-pair candidate
   * miss probability at j ≥ t is (1−j²)^bands ≈ 8·10⁻⁸ at j = 0.8 —
   * the standard LSH-then-verify construction where false positives
   * cost only rescoring and false negatives are driven to negligible.
   * Same output contract as [[ngramJaccard]]: (doc_a, doc_b, inter,
   * size_a, size_b, jaccard), jaccard ≥ threshold, doc_a < doc_b.
   */
  def minhashLshVerified(df: DataFrame, content: Column, id: Column,
                         k: Int = 3, numHashes: Int = 0, bands: Int = 0,
                         threshold: Double = 0.8): DataFrame = {
    import graft.functions.TextHashExprs
    require((numHashes > 0) == (bands > 0),
      "pass both numHashes and bands, or neither (threshold-scaled " +
        "bandedLayout) — a half-specified layout would be silently ignored")
    val (nh, nb) =
      if (numHashes > 0 && bands > 0) (numHashes, bands)
      else bandedLayout(threshold)
    require(nh % nb == 0, "numHashes must divide into bands")
    val rows = nh / nb
    // signature AND shingle set from ONE pass over the text
    // (MinhashWithShinglesExpr) — computing them as two expressions
    // tokenized and base-hashed every shingle twice, which dominated
    // the operator's cost
    val sigs = OpCache.cache(Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
          TextHashExprs.minhashWithShingles(content, k, nh).as("b"))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("b.sig").as("sig"), col("b.sh").as("sh")))
    val useFp = Scale.estimatedRows(df) > FpBandDocsBound
    val banded = bandFrame(
      if (useFp) fpAugment(sigs.select("doc_id", "sig"), sigs)
      else sigs.select("doc_id", "sig"), nb, rows).drop("sig")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id") &&
          (if (useFp) fpBlockCond(threshold) else lit(true)))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Band collisions are overwhelmingly FALSE on big corpora
    // (measured sf1: 204,050 candidates / 2,234 genuine — 98.9% —
    // formerly shipping 131 MB of shingle arrays through this
    // rescore). r9 measured two remedies as losses: the
    // `rescore(prefilter=true)` stage (+0.3-0.8 s of fixed join
    // overhead per entry) and an in-join FULL fingerprint (16× the
    // per-doc array through the self-join). r10's BOUNDED form —
    // [[fpBlockCond]]'s 48-element prefix, ~100 B/band-row — finally
    // wins where the collision mass is real (sf1: clusters_incremental
    // 8.5→5.6 s) and is size-gated OFF below [[FpBandDocsBound]]
    // where it measured as the same fixed-cost loss.
    rescore(cand, sigs, threshold)
  }

  /**
   * 64-bit SimHash per document (sign-sum of token xxhash64 bits),
   * computed in one projection by the native
   * [[graft.functions.TextHashExprs.SimhashExpr]] — no explode, no
   * shuffle. Output: (doc_id, simhash); token-less docs are dropped.
   */
  def simhashSignatures(df: DataFrame, content: Column, id: Column): DataFrame =
    Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
          graft.functions.TextHashExprs.simhash64(content).as("simhash"))
      .filter(col("simhash").isNotNull)

  /**
   * SimHash near-dup: pairs with Hamming distance ≤ maxDistance.
   *
   * Blocking is TWO-REGIME pigeonhole (dispatch in
   * [[simhashBlocking]]):
   *
   *  - NARROW (maxDistance < [[WidePigeonholeBound]]): split 64 bits
   *    into `maxDistance + 1` chunks; any pair within distance shares
   *    at least one EXACT chunk, so candidates come from equi-joins on
   *    (chunk index, chunk value) — a shuffle, not a cross join. The
   *    64 % chunks remainder bits are DISTRIBUTED (first `64 % chunks`
   *    chunks are one bit wider) rather than ignored: every covered
   *    bit halves a chunk's random-collision mass.
   *
   *  - WIDE (maxDistance ≥ bound): `maxDistance + 1` chunks of
   *    64/(d+1) ≤ 7 bits make bucket collisions n²-shaped (at d=12:
   *    13 chunks of 4-5 bits, expected random candidate mass
   *    n²/2 · 0.44). The multi-index scheme (HmSearch-style — Zhang
   *    et al., SIGMOD'13; Norouzi et al., CVPR'12 multi-index
   *    hashing) uses only `⌊d/2⌋ + 1` chunks — wide enough that a
   *    bucket is selective — and tolerates ONE error inside a chunk
   *    by probe enumeration: each doc probes with the exact chunk
   *    value plus every 1-bit flip (width+1 keys/chunk), while the
   *    stored side keeps exact values only. Pigeonhole: d errors over
   *    ⌊d/2⌋+1 chunks leave some chunk with ≤ ⌊d/(⌊d/2⌋+1)⌋ ≤ 1
   *    error, caught by the exact key (0 errors) or the flipped probe
   *    at the differing bit (1 error) — no false negatives. At d=12:
   *    7 chunks of 9-10 bits, 71 probe keys/doc, expected random
   *    candidate mass n²/2 · Σ (width_i+1)/2^width_i ≈ n²/2 · 0.135 —
   *    3.2× below the exact-pigeonhole mass with HALF the join's
   *    false-pair survivors, because the Hamming predicate also runs
   *    INSIDE the join condition (below), so a false bucket collision
   *    dies before it reaches the distinct shuffle.
   *
   * In BOTH regimes the join condition carries
   * `bit_count(a.simhash ^ b.simhash) ≤ maxDistance`: the signatures
   * are already on the joined rows, the check is one codegen'd XOR +
   * POPCNT, and it turns the post-join `.distinct()` from "shuffle
   * every bucket collision" into "shuffle only true Hamming pairs".
   */
  /** Past this distance the exact pigeonhole switches to the
    * multi-index (1-error chunks + flip probes) blocking regime. */
  private val WidePigeonholeBound = 8

  /** Chunk widths and bit offsets of an m-way split of 64 bits; the
    * 64 % m remainder widens the first chunks. */
  private def chunkLayout(m: Int): (Array[Int], Array[Int]) = {
    require(m >= 1 && m <= 64, s"simhash: chunk count $m out of range")
    val base = 64 / m
    val wide = 64 % m // this many chunks get base+1 bits
    val widths = Array.tabulate(m)(i => if (i < wide) base + 1 else base)
    (widths, widths.scanLeft(0)(_ + _))
  }

  /** (…carried cols, chunk, chunk_val): exact chunk values under an
    * m-way split — the STORED side of blocking in both regimes. Every
    * input column (doc_id, simhash, any fp-bound payload) carries
    * through. */
  private def chunkFrame(sig: DataFrame, m: Int): DataFrame = {
    val (widths, offsets) = chunkLayout(m)
    val chunkVals = (0 until m).map { i =>
      call_function("shiftright", col("simhash"), lit(offsets(i)))
        .bitwiseAND(if (widths(i) == 64) -1L else (1L << widths(i)) - 1)
    }
    sig.select(col("*"), posexplode(array(chunkVals: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
  }

  /** (…carried cols, chunk, chunk_val): the PROBE side of the wide
    * regime — per chunk, the exact value plus every 1-bit flip, so a
    * probe row set covers the full Hamming-1 ball of each chunk. */
  private def probeFrame(sig: DataFrame, m: Int): DataFrame = {
    val (widths, offsets) = chunkLayout(m)
    val keys = (0 until m).flatMap { i =>
      val exact = call_function("shiftright", col("simhash"), lit(offsets(i)))
        .bitwiseAND((1L << widths(i)) - 1)
      val ball = exact +: (0 until widths(i)).map(b => exact.bitwiseXOR(lit(1L << b)))
      ball.map(v => struct(lit(i).as("chunk"), v.as("chunk_val")))
    }
    sig.select(col("*"), explode(array(keys: _*)).as("k"))
      .withColumn("chunk", col("k.chunk"))
      .withColumn("chunk_val", col("k.chunk_val"))
      .drop("k")
  }

  /** (probe, stored) blocking frames for `maxDistance` — equal exact
    * chunk frames in the narrow regime; Hamming-1-ball probes against
    * exact stored chunks in the wide regime. Any pair within the
    * distance shares a (chunk, chunk_val) key across probe × stored. */
  private[graft] def simhashBlocking(sig: DataFrame,
                                     maxDistance: Int): (DataFrame, DataFrame) = {
    require(maxDistance >= 0 && maxDistance < 64, "maxDistance must be in [0, 64)")
    if (maxDistance < WidePigeonholeBound) {
      val chunked = chunkFrame(sig, maxDistance + 1)
      (chunked, chunked)
    } else {
      val m = maxDistance / 2 + 1
      (probeFrame(sig, m), chunkFrame(sig, m))
    }
  }

  def simhash(df: DataFrame, content: Column, id: Column,
              maxDistance: Int = 3): DataFrame = {
    val sig = OpCache.cache(simhashSignatures(df, content, id))
    val (probe, stored) = simhashBlocking(sig, maxDistance)
    probe.as("a").join(stored.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id") &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxDistance)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
  }

  /**
   * SimHash blocking with EXACT Jaccard verification: candidates are
   * the Hamming ≤ `maxDistance` pairs from [[simhash]]'s pigeonhole
   * blocking, rescored against the true k-shingle sets (same kernel
   * and output contract as [[ngramJaccard]]): (doc_a, doc_b, inter,
   * size_a, size_b, jaccard) with jaccard ≥ threshold, doc_a < doc_b.
   *
   * Unlike MinHash banding, SimHash gives no analytic recall bound at
   * a Jaccard threshold (Hamming distance tracks the cosine of the
   * token-frequency vectors, not set Jaccard) — but near-duplicate
   * text at j ≥ 0.8 has nearly identical token profiles, so its
   * 64-bit SimHashes differ in few bits (measured on the testdata
   * corpora: max hamming 5 at sf0.01, 9 at sf0.001, 12 at sf0.1 —
   * hence the default covers all three). The DuckDB exact-Jaccard
   * oracle is the empirical recall gate: a hash-exact match certifies
   * that blocking at `maxDistance` missed nothing on that corpus.
   * The default distance rides [[simhash]]'s WIDE blocking regime
   * (multi-index: 7 chunks of 9-10 bits, Hamming-1-ball probes, the
   * in-join Hamming check) — see that doc for the collision-mass
   * arithmetic; for billion-doc corpora the tighter hamming ≤ 3
   * default (narrow regime, 16-bit exact chunks, random collisions
   * n²·3·10⁻⁵) trades certified recall for selectivity, or use
   * MinHash banding which has the analytic bound.
   */
  def simhashVerified(df: DataFrame, content: Column, id: Column,
                      maxDistance: Int = 12, k: Int = 3,
                      threshold: Double = 0.8,
                      maxCandidatesPerDoc: Int = DefaultSimhashEvalsPerDoc): DataFrame = {
    // the pre-flight computes its OWN (un-cached) signature pass —
    // measured: ~2 s at 50 k docs, while feeding the gate's cached
    // frame into the blocking join changed that join's plan and cost
    // 23 s; an independent scan that dies after one aggregation is
    // the cheaper shape
    if (maxCandidatesPerDoc > 0) {
      val perDoc = simhashBucketEvalsPerDoc(
        simhashSignatures(df, content, id), maxDistance)
      if (perDoc > maxCandidatesPerDoc) {
        log.info(f"[graft] simhashVerified: est. $perDoc%.0f in-join evaluations/doc " +
          s"> $maxCandidatesPerDoc — signature-dense corpus (the blocking mass is " +
          "quadratic BY CONTRACT here), routing to minhashLshVerified (same " +
          "jaccard-verified output contract, banded candidates linear in n; " +
          "the hamming cap — a blocking artifact, not an output promise — " +
          "is dropped, so the routed set can only GAIN j≥t pairs the " +
          "hamming filter would have cut)")
        return minhashLshVerified(df, content, id, k, threshold = threshold)
      }
    }
    val sigs = shingleSigs(df, content, id, k)
    rescore(simhashCandidates(df, content, id, maxDistance, k, threshold, sigs),
      sigs, threshold)
  }

  /** Default route bound of the simhash pre-flight: measured on the
    * word-permuted-copies scale probe (the corpus family where simhash
    * degenerates — permutation-invariant signatures make every copy
    * collide exactly), ~10k evaluations/doc (50 k docs, 495 M total)
    * runs in under a minute on 32 threads; ~99k/doc (500 k docs,
    * 49.5 G total) projects past an hour. The bound sits between the
    * decades. Per-doc, mirroring [[DefaultMaxCandidatesPerDoc]] —
    * multiply by corpus size for the total-mass budget. */
  val DefaultSimhashEvalsPerDoc: Int = 1 << 15

  /** The incremental pre-flight: in-join evaluations per INCOMING doc
    * — Σ over buckets of c_incoming · c_all (the probe×stored join
    * shape; exact keys only, understating the Hamming-1 ball by the
    * constant probe multiplier). */
  private[graft] def simhashIncrementalEvalsPerDoc(simAll: DataFrame,
                                                   incomingIds: DataFrame,
                                                   maxDistance: Int): Double = {
    val m = if (maxDistance < WidePigeonholeBound) maxDistance + 1
            else maxDistance / 2 + 1
    val all = chunkFrame(simAll.select("doc_id", "simhash"), m)
    val cAll = all.groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("c_all"))
    val cIn = all.join(incomingIds, Seq("doc_id"), "left_semi")
      .groupBy("chunk", "chunk_val").agg(count(lit(1)).as("c_in"))
    val mass = cIn.join(cAll, Seq("chunk", "chunk_val"))
      .agg(coalesce(sum(col("c_in") * col("c_all")), lit(0L)).cast("double"))
      .collect()(0).getDouble(0)
    val nIn = incomingIds.count()
    if (nIn == 0) 0.0 else mass / nIn
  }

  /** PRE-FLIGHT of the simhash blocking join: the number of in-join
    * condition evaluations it will perform, per doc — Σ over the
    * stored chunk table's (chunk, value) buckets of c·(c−1)/2, the
    * EXACT pair mass of exact-key collisions (the wide regime's
    * Hamming-1-ball probes only add to it). One cheap aggregation
    * over m·n rows, no data-dependent explosion — the same
    * estimate-then-decide shape as [[ShingleStats.estCandidatesPerDoc]]. */
  private[graft] def simhashBucketEvalsPerDoc(sim: DataFrame,
                                              maxDistance: Int): Double = {
    val m = if (maxDistance < WidePigeonholeBound) maxDistance + 1
            else maxDistance / 2 + 1
    val row = chunkFrame(sim.select("doc_id", "simhash"), m)
      .groupBy("chunk", "chunk_val").count()
      .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L))
          .cast("double").as("pairs2"),
        coalesce(sum(col("count")), lit(0L)).cast("double").as("rows"))
      .collect()(0)
    val (pairs2, rows) = (row.getDouble(0), row.getDouble(1))
    if (rows == 0) 0.0 else (pairs2 / 2.0) / (rows / m)
  }

  /** The candidate stage of [[simhashVerified]] (exposed for the dev
    * profiler): blocking join + in-join Hamming check + in-join
    * Jaccard upper bound, distinct (doc_a, doc_b) survivors. */
  private[graft] def simhashCandidates(df: DataFrame, content: Column,
                                       id: Column, maxDistance: Int = 12,
                                       k: Int = 3, threshold: Double = 0.8,
                                       sigsIn: DataFrame = null): DataFrame = {
    val sigs = Option(sigsIn).getOrElse(shingleSigs(df, content, id, k))
    val sig = OpCache.cache(
      fpAugment(simhashSignatures(df, content, id), sigs))
    val (probe, stored) = simhashBlocking(sig, maxDistance)
    probe.as("a").join(stored.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id") &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxDistance &&
        fpBlockCond(threshold))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Fingerprint-prefix length of the in-join Jaccard bound on the
    * simhash blocking joins ([[fpBlockCond]]): long enough that the
    * prefix walk separates false Hamming pairs from threshold-0.8
    * candidates on ~100-shingle documents, short enough that the
    * payload on the (up to 71×-duplicated wide-regime probe) blocking
    * rows stays bounded at ~100 bytes REGARDLESS of document length —
    * the bounded-payload answer to carrying full fingerprint arrays
    * on exploded rows. */
  private val FpBlockPrefixLen = 48

  /** Per-doc columns of the in-join Jaccard upper bound, attached to
    * the simhash signature frame BEFORE chunk explosion: shingle-set
    * size `sz`, the 16-bit fingerprint projection of the FIRST
    * [[FpBlockPrefixLen]] value-sorted shingle hashes `f16p`
    * (monotonic `shiftright(h, 48)` — still sorted), and the 64-bit
    * boundary element `lastp` the soundness argument compares on. */
  private def fpAugment(sig: DataFrame, sigs: DataFrame): DataFrame =
    sig.join(sigs.select(col("doc_id"), size(col("sh")).as("sz"),
        transform(slice(col("sh"), 1, FpBlockPrefixLen),
          h => shiftright(h, 48).cast("smallint")).as("f16p"),
        element_at(col("sh"),
          least(lit(FpBlockPrefixLen), size(col("sh")))).as("lastp")),
      Seq("doc_id"))

  /** IN-JOIN sound Jaccard upper bound over the blocking "a"/"b"
    * aliases — the wide-distance analogue of [[fpJoinCond]]: on a
    * same-vocabulary corpus the Hamming ≤ 12 candidate set is θ(n²)
    * BY CONTRACT (measured: 1.05 M true Hamming pairs at sf0.1,
    * 105 M at sf1, of which ~25 / 2.5 k reach Jaccard 0.8), so false
    * pairs must die INSIDE the blocking join, before the candidate
    * distinct and the rescore ever shuffle them. Soundness of the
    * prefix bound: a common element not counted by the prefix
    * merge-walk either lies beyond the boundary-smaller side's prefix
    * — at most `sz − |prefix|` of those — or would have to be ≤ that
    * side's boundary yet > the other's, impossible when comparing on
    * the 64-bit boundary `lastp` (distinct values). The walk itself
    * can only over-count (fingerprint collisions ADD), so
    * `walk + allowance ≥ true intersection` always: genuine pairs
    * never die. Evaluated after the cheap mutual length bound
    * (And short-circuit). */
  private def fpBlockCond(threshold: Double): Column = {
    val minOverlap = epsCeil(lit(threshold / (1.0 + threshold)) *
      (col("a.sz") + col("b.sz")))
    val walk = graft.functions.VectorExprs.sortedShortIntersectCount(
      col("a.f16p"), col("b.f16p"))
    val allowance = when(col("a.lastp") <= col("b.lastp"),
      col("a.sz") - size(col("a.f16p")))
      .otherwise(col("b.sz") - size(col("b.f16p")))
    col("a.sz") >= lit(threshold) * col("b.sz") &&
      col("b.sz") >= lit(threshold) * col("a.sz") &&
      (walk + allowance) >= minOverlap
  }

  /**
   * INCREMENTAL SimHash near-dup — the fourth member of the
   * incremental family beside jaccard (#68/#196), clusters (#191) and
   * embeddings (#193/#198), same contract: exact-Jaccard pairs ≥
   * `threshold` with AT LEAST ONE side in `incoming` (doc_a < doc_b;
   * corpus-internal pairs are not re-derived; a re-delivered id
   * supersedes its corpus copy). Only incoming docs' pigeonhole
   * chunks PROBE — the corpus contributes its chunk table, so
   * candidate cost is \|incoming\| × chunk collisions, the
   * nightly-delta shape. Recall follows [[simhashVerified]]'s
   * empirical argument (blocking at `maxDistance` has missed nothing
   * on the gate corpora — the full-pair-set oracle certifies it).
   */
  def simhashVerifiedIncremental(corpus: DataFrame, incoming: DataFrame,
                                 content: Column, id: Column,
                                 maxDistance: Int = 12, k: Int = 3,
                                 threshold: Double = 0.8,
                                 maxCandidatesPerDoc: Int = DefaultSimhashEvalsPerDoc): DataFrame = {
    val corpusOnly = corpus.select(content.as("__c"), id.as("__i"))
      .join(incoming.select(id.as("__i")), Seq("__i"), "left_anti")
      .select("__c", "__i") // using-join hoists __i first; union is positional
    val union = corpusOnly.unionAll(incoming.select(content.as("__c"), id.as("__i")))
    if (maxCandidatesPerDoc > 0) {
      // independent un-cached signature pass — see simhashVerified
      val perDoc = simhashIncrementalEvalsPerDoc(
        simhashSignatures(union, col("__c"), col("__i")),
        incoming.select(id.as("doc_id")), maxDistance)
      if (perDoc > maxCandidatesPerDoc) {
        log.info(f"[graft] simhashVerifiedIncremental: est. $perDoc%.0f in-join " +
          s"evaluations/incoming doc > $maxCandidatesPerDoc — signature-dense " +
          "corpus, routing to minhashLshVerifiedIncremental (same contract " +
          "trade as the batch route)")
        return minhashLshVerifiedIncremental(corpus, incoming, content, id,
          k, threshold = threshold)
      }
    }
    val sigs = shingleSigs(union, col("__c"), col("__i"), k)
    val sim = OpCache.cache(
      fpAugment(simhashSignatures(union, col("__c"), col("__i")), sigs))
    // the multi-index asymmetry IS the incremental shape: only the
    // batch emits (ball-expanded, in the wide regime) probe keys; the
    // corpus contributes its exact chunk table
    val (probe, stored) = simhashBlocking(sim, maxDistance)
    val probeNew = probe.join(
      incoming.select(id.as("doc_id")), Seq("doc_id"), "left_semi")
    // new-new pairs surface in both orientations — canonicalize; the
    // in-join Hamming check + Jaccard upper bound ([[fpBlockCond]])
    // kill false bucket collisions and false Hamming pairs before the
    // distinct shuffle (same as the batch path)
    val cand = probeNew.as("a").join(stored.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxDistance &&
          fpBlockCond(threshold))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    rescore(cand, sigs, threshold)
  }

  /**
   * INCREMENTAL n-gram Jaccard near-dup: pairs (jaccard ≥ t,
   * doc_a < doc_b) where AT LEAST ONE side comes from the `incoming`
   * batch — the daily-crawl pattern, where re-pairing the whole
   * corpus per delivery would be quadratic waste. Only incoming
   * documents generate prefix probes; the corpus side contributes its
   * (indexable, precomputable) prefix table, so candidate cost scales
   * with |incoming| × fan-out, not |corpus|². Corpus-internal pairs
   * are deliberately NOT re-emitted (they were found when those docs
   * themselves arrived).
   *
   * Same pruning, ordering and rescoring as [[ngramJaccard]] (the
   * frequency order is computed over corpus ∪ incoming so both sides
   * slice prefixes under one global order — required for the
   * no-false-negative property).
   *
   * Same CANDIDATE-VOLUME PRE-FLIGHT as [[ngramJaccard]]: the
   * batch-side prefix probe against the FULL corpus prefix table
   * carries the corpus's Σdf² exposure (a vocabulary-bounded corpus
   * makes even a small nightly delta's probe quadratic — the exact
   * regime the r7 ×100 probe measured at ~1e9 candidates / 71 GB on
   * the batch path). Past `maxCandidatesPerDoc` the operator routes
   * to [[minhashLshVerifiedIncremental]] — identical output contract
   * (batch-touching pairs, exact rescoring), candidate volume
   * governed by band collisions instead of per-shingle df.
   */
  def ngramJaccardIncremental(corpus: DataFrame, incoming: DataFrame,
                              content: Column, id: Column,
                              k: Int = 3, threshold: Double = 0.8,
                              freqOrdered: Boolean = true,
                              freqIn: Option[Array[Long]] = None,
                              statsIn: Option[ShingleStats] = None,
                              maxCandidatesPerDoc: Int = DefaultMaxCandidatesPerDoc): DataFrame = {
    // a re-delivered id supersedes its corpus version: keep the
    // incoming copy only, or the unioned signature frame would hold
    // two texts under one id and fan out every rescore join
    val corpusOnly = corpus.select(content.as("__c"), id.as("__i"))
      .join(incoming.select(id.as("__i")), Seq("__i"), "left_anti")
      .select("__c", "__i") // using-join hoists __i first; union is positional
    val union = corpusOnly.unionAll(incoming.select(content.as("__c"), id.as("__i")))
    val sigsAll = shingleSigs(union, col("__c"), col("__i"), k)
    // pre-flight estimate: from the caller's train-once corpus stats
    // when available, else one df aggregation over the cached union
    // (the same aggregation the frequency order pays anyway)
    val stats = statsIn.orElse {
      // needed whenever routing is enabled; also when the frequency
      // order needs computing (statsOf yields both in one aggregation)
      if (maxCandidatesPerDoc <= 0 && (freqIn.isDefined || !freqOrdered)) None
      else Some(statsOf(sigsAll))
    }
    if (maxCandidatesPerDoc > 0 &&
        stats.exists(_.estCandidatesPerDoc(threshold) > maxCandidatesPerDoc)) {
      log.info(f"[graft] ngramJaccardIncremental: est. " +
        f"${stats.get.estCandidatesPerDoc(threshold)}%.0f candidates/doc > " +
        s"$maxCandidatesPerDoc — vocabulary-bounded corpus, routing to " +
        "minhashLshVerifiedIncremental (same contract, banded candidates)")
      return minhashLshVerifiedIncremental(corpus, incoming, content, id,
        k, threshold = threshold)
    }
    // the incoming side's signatures are a semi-join slice of the
    // cached union — no second tokenize+hash pass over the batch
    val sigsNew = sigsAll.join(
      incoming.select(id.as("doc_id")), Seq("doc_id"), "left_semi")
    val freq =
      if (!freqOrdered) Array.emptyLongArray
      else freqIn.orElse(stats.map(_.frequent)).getOrElse(
        frequentSet(sigsAll, minDf = 4, maxFreqSet = 1 << 20))
    // new-side probes against the full prefix table; new-new pairs
    // surface twice (once per orientation) — least/greatest + distinct
    // canonicalizes them
    val cand = prefixFrame(sigsNew, threshold, freq).as("a")
      .join(prefixFrame(sigsAll, threshold, freq).as("b"),
        col("a.doc_id") =!= col("b.doc_id") && prefixJoinCond(threshold) &&
          fpJoinCond(threshold))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    rescore(cand, sigsAll, threshold)
  }

  /**
   * INCREMENTAL MinHash+LSH near-dup with exact verification — the
   * degenerate-corpus route for [[ngramJaccardIncremental]] (same
   * output contract: true-Jaccard pairs ≥ threshold with at least one
   * side in `incoming`, doc_a < doc_b; corpus-internal pairs are not
   * re-emitted). Only incoming documents' bands probe; the corpus
   * side contributes its band table, so candidate cost is
   * |incoming| × band collisions, independent of per-shingle df —
   * the property that lets a nightly delta survive a
   * vocabulary-bounded corpus where the prefix join cannot run. The
   * per-pair candidate-miss probability is the standard banded-LSH
   * bound ((1−j²)^bands ≈ 8e-8 at j = 0.8 with the default layout).
   */
  def minhashLshVerifiedIncremental(corpus: DataFrame, incoming: DataFrame,
                                    content: Column, id: Column,
                                    k: Int = 3, numHashes: Int = 0,
                                    bands: Int = 0,
                                    threshold: Double = 0.8): DataFrame = {
    import graft.functions.TextHashExprs
    require((numHashes > 0) == (bands > 0),
      "pass both numHashes and bands, or neither (threshold-scaled " +
        "bandedLayout) — a half-specified layout would be silently ignored")
    val (nh, nb) =
      if (numHashes > 0 && bands > 0) (numHashes, bands)
      else bandedLayout(threshold)
    require(nh % nb == 0, "numHashes must divide into bands")
    val rows = nh / nb
    // incoming supersedes a re-delivered corpus id (same rule as the
    // prefix path — one text per id in the rescore frame)
    val corpusOnly = corpus.select(content.as("__c"), id.as("__i"))
      .join(incoming.select(id.as("__i")), Seq("__i"), "left_anti")
      .select("__c", "__i")
    val sigs = OpCache.cache(Scale.ensureParallelism(
        corpusOnly.unionAll(incoming.select(content.as("__c"), id.as("__i"))))
      .select(col("__i").as("doc_id"),
        TextHashExprs.minhashWithShingles(col("__c"), k, nh).as("b"))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("b.sig").as("sig"), col("b.sh").as("sh")))
    val useFp =
      Scale.estimatedRows(corpus) + Scale.estimatedRows(incoming) > FpBandDocsBound
    val bandedAll = bandFrame(
      if (useFp) fpAugment(sigs.select("doc_id", "sig"), sigs)
      else sigs.select("doc_id", "sig"), nb, rows).drop("sig")
    val bandedNew = bandedAll.join(
      incoming.select(id.as("doc_id")), Seq("doc_id"), "left_semi")
    // new-new pairs surface in both orientations — canonicalize. Past
    // [[FpBandDocsBound]] the band rows carry the bounded fpBlockCond
    // payload (48-element f16 prefix, ~100 B/row), so false band
    // collisions die INSIDE the join — measured sf1: see the r10
    // BENCHNOTES row
    val cand = bandedNew.as("a").join(bandedAll.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          (if (useFp) fpBlockCond(threshold) else lit(true)))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    rescore(cand, sigs, threshold)
  }

  /** Corpus-size bound past which the banded joins carry the
    * [[fpBlockCond]] payload. MEASURED both ways at both scales
    * (sf0.1 = 5 k docs / sf1 = 50 k, medians of 3): with the bound
    * always-on, sf1 wins big (`dedup_clusters_incremental` 8.49 →
    * 5.64 s, `dedup_incremental` 2.92 → 2.15, `dedup_minhash` 3.96 →
    * 3.75) because band-collision mass is worth killing in-join there
    * — but sf0.1 LOSES (`dedup_clusters` 1.62 → 2.05,
    * `dedup_clusters_incremental` 3.67 → 4.33): at 5 k docs the
    * fpAugment join + heavier band rows cost more than the tiny
    * collision mass they kill. Same decision shape as the
    * size-switched driver CC: the crossover sits between the two
    * measured points. The estimate is [[Scale.estimatedRows]]
    * (parquet footers / plan stats — no action; a count() gate was
    * measured to cost ~0.6 s of early-materialization overhead at
    * sf0.1, eating the win it guards). */
  private val FpBandDocsBound = 20000L

  /** Per-pair candidate-miss target of [[bandedLayout]]. */
  private val MaxBandedMiss = 1e-6

  /** Banding layout `(numHashes, bands)` whose per-pair candidate-miss
    * probability AT the configured threshold stays ≤ [[MaxBandedMiss]]
    * — rows fixed at 2 (the granularity of the long-standing 32×16
    * default), `bands = ⌈ln(miss)/ln(1 − t²)⌉` clamped to [16, 64].
    * At t = 0.8 this resolves to exactly the historical 16-band
    * layout ((1−0.64)¹⁶ ≈ 8·10⁻⁸, all oracles unchanged); LOWER
    * thresholds — where 16 bands would silently miss ~1% of genuine
    * pairs at t = 0.5 — grow the signature instead of weakening the
    * recall contract (t = 0.5 → 49 bands / 98 hashes). The 64-band
    * clamp bounds signature cost; in the regime beyond it (t ≲ 0.37)
    * the residual miss is logged at WARN, so the banded paths'
    * downgrade from the exact prefix join is never silent — WARN, not
    * stdout, so headless/production runs surface the degraded recall
    * through whatever appender they configure. */
  private[graft] def bandedLayout(threshold: Double): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    val perBand = 1.0 - threshold * threshold
    val bands = math.min(64, math.max(16,
      math.ceil(math.log(MaxBandedMiss) / math.log(perBand)).toInt))
    val miss = math.pow(perBand, bands)
    if (miss > MaxBandedMiss * 10)
      org.apache.logging.log4j.LogManager.getLogger(getClass)
        .warn(f"bandedLayout: threshold $threshold%.2f sits at the " +
          f"64-band clamp — residual per-pair candidate-miss $miss%.2e " +
          f"exceeds the documented ${MaxBandedMiss}%.0e contract")
    (bands * 2, bands)
  }

  /**
   * TOP REPEATED SPANS report — the diagnostic view behind substring
   * dedup: the `k` most frequent `w`-token windows corpus-wide with
   * instance and distinct-document counts (what IS all that repeated
   * boilerplate?). Two passes so the corpus text never shuffles:
   * counts aggregate on md5 window keys (hash + id exchanges only),
   * then ONLY the k winning spans' text is retrieved by a scan-side
   * recompute filtered against the broadcast winner set — a bounded
   * driver collect of k hashes, the same precedent as the pinned
   * codebooks. Winners tie-break on (count desc, md5 asc): md5, not
   * xxhash64, so any engine can reproduce the selection.
   * Output: (span, n_inst, n_docs).
   */
  def topSpans(df: DataFrame, content: Column, id: Column,
               w: Int = 8, k: Int = 20): DataFrame = {
    val toks = when(length(trim(content)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(content), "\\s+"))
    def spans(d: DataFrame): DataFrame =
      // both passes pay the span explode + per-span md5 (the
      // operator's CPU mass); spread it — a single-file scan arrives
      // as 1-2 partitions (r16: ~2.4 s serial at sf0.1), and the
      // repartition is a no-op on multi-split inputs at scale
      Scale.ensureParallelism(d.select(id.as("doc_id"), toks.as("t")))
        .filter(size(col("t")) >= w)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("t")) - (w - 1)),
            i => concat_ws(" ", slice(col("t"), i, lit(w))))).as("span"))
    val winners = spans(df)
      .select(md5(col("span")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_inst"))
      .orderBy(col("n_inst").desc, col("h").asc)
      .limit(k)
      .collect().map(_.getString(0))
    spans(df)
      .filter(md5(col("span")).isin(winners.toIndexedSeq: _*))
      .groupBy("span")
      .agg(count(lit(1)).as("n_inst"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  /**
   * KEEP-BEST near-dup selection — the production alternative to
   * keep-min-id when a quality signal exists: within each duplicate
   * cluster keep the member with the HIGHEST `score` (ties: lowest
   * id), drop the rest; documents outside every cluster survive
   * untouched. Returns the surviving rows of `df`, all columns.
   *
   * Scale: the cluster frame is bounded by the duplicate mass (docs
   * that appear in a near-dup pair), the ranking window partitions
   * by cluster_id, and the corpus itself participates only in one
   * anti join keyed by id — no full-corpus window, no payload
   * shuffle.
   *
   * `clusters` is a (doc_id, cluster_id) label frame — what
   * [[nearDupComponents]] produces without ever materializing the
   * quadratic pair set, or [[duplicateClusters]] over a pair frame.
   */
  def dedupKeepBestClusters(df: DataFrame, id: Column, score: Column,
                            clusters: DataFrame): DataFrame = {
    // One (doc_id, score) row per id BEFORE the ranking window: if an
    // id appears on multiple input rows (re-ingested shards — the case
    // dupNgramCoverage documents), each copy would otherwise get its
    // own row_number, rank the best doc's second copy rk>1, and the
    // anti join would then drop EVERY copy of the best member. The
    // max-score aggregate makes keep/drop a per-id decision; survivors
    // keep all their input rows.
    val dropped = df.select(id.as("doc_id"), score.as("__score"))
      .groupBy("doc_id").agg(max(col("__score")).as("__score"))
      .join(clusters, "doc_id")
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
          .orderBy(col("__score").desc, col("doc_id").asc)))
      .filter(col("__rk") > 1)
      .select(col("doc_id").as("__drop_id"))
    df.join(dropped, id === col("__drop_id"), "left_anti")
  }

  /**
   * Duplicate CLUSTERS from a near-dup pair frame: connected
   * components over the pair graph, labeling every document that
   * appears in a pair with the MINIMUM doc_id of its component — the
   * canonical representative. Pairwise "drop doc_b" dedup is only an
   * approximation on transitive chains (a~b, b~c without a~c);
   * cluster-level dedup keeps exactly one representative per
   * component, which is what corpus-level fuzzy dedup means.
   *
   * Iterative hash-min label propagation: labels start at doc_id;
   * each round every doc takes the min label among itself and its
   * neighbors; fixed point in ≤ diameter rounds (near-dup components
   * are tiny, so single-digit rounds in practice — `maxIters` is a
   * pathology guard, logged if hit). Each round is one equi-join +
   * one aggregation over the edge list — bounded shuffles keyed by
   * doc id, the standard scalable CC formulation; labels are cached
   * per round and the previous round is unpersisted immediately.
   * Output: (doc_id, cluster_id), one row per doc appearing in pairs.
   */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20,
                        localEdgeThreshold: Long = 1L << 20): DataFrame = {
    // cache the (possibly expensive) pair frame FIRST: the edge list
    // reads it twice (both union directions), and every propagation
    // round reads the edges — without this the upstream near-dup join
    // would run once per union branch
    val p = OpCache.cache(pairs.select("doc_a", "doc_b"))
    // near-dup pair graphs are usually FAR smaller than the corpus
    // (edges ≈ number of duplicate documents). Below the threshold
    // (default 2²⁰ edges ≈ 16 MB collected) solve with a driver-side
    // union-find and broadcast the labels back: the distributed loop
    // pays per-round shuffle+action overhead that exceeds the entire
    // local solve — the same size-switch philosophy as Spark's
    // broadcast-join threshold. Above it (billion-doc corpora), the
    // iterative hash-min propagation below is the scale path. The two
    // paths are semantically identical (spec-asserted).
    val localDtOk = {
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
      Seq(IntegerType, LongType, StringType).contains(p.schema("doc_a").dataType)
    }
    if (localDtOk && localEdgeThreshold > 0) {
      // ONE bounded action instead of count()-then-collect(): take
      // threshold+1 rows — getting fewer proves the whole edge list is
      // in hand, so the local solve starts immediately. Composed
      // pipelines thus pay a single blocking materialization of the
      // (cached) pair frame, not two.
      val lim = math.min(localEdgeThreshold, (Int.MaxValue - 8).toLong).toInt
      val sample = p.take(lim + 1)
      if (sample.length <= lim) return localClusters(p, sample)
    }
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // init = identity labels with ONE propagation round pre-applied
    // (min over self + direct neighbors, computable in the same
    // aggregation that would deduplicate the node list anyway) —
    // saves a full iteration for the common tiny-component case
    var cached = OpCache.cache(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("__m"))
        .select(col("src").as("doc_id"),
          least(col("src"), col("__m")).as("cluster_id")))
    var labels = cached
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("cluster_id"),
          lit(false).as("self"))
      // one aggregation yields BOTH the new label and the old one
      // (min over self-rows), so convergence needs no join. Each round
      // is CHECKPOINTED, not cached: the round plan references the
      // previous round twice (union + neighbor join), so without
      // lineage truncation the logical plan doubles every round —
      // exponential analysis cost even though caching dedups execution
      val step = OpCache.checkpoint(
        labels.withColumn("self", lit(true)).unionAll(neighborLabels)
          .groupBy("doc_id")
          .agg(min(col("cluster_id")).as("cluster_id"),
            min(when(col("self"), col("cluster_id"))).as("prev")))
      changed = step.filter(col("cluster_id") < col("prev")).count()
      OpCache.unpersistEager(cached) // the previous round's data
      cached = step
      labels = step.select("doc_id", "cluster_id")
      it += 1
    }
    if (changed > 0)
      log.warn(s"[graft] duplicateClusters: not converged after $maxIters rounds " +
        "(pathologically long duplicate chain); labels are an upper approximation")
    labels
  }

  /**
   * INCREMENTAL duplicate clusters: fold a new batch into an existing
   * `(doc_id, cluster_id)` label table without recomputing the corpus
   * pair graph. Existing labels act as star EDGES (doc → its
   * canonical representative — a spanning subgraph of each old
   * component), and `newPairs` contributes every near-dup pair
   * touching the batch ([[ngramJaccardIncremental]]'s contract);
   * connected components over the union are EXACTLY the components of
   * the full corpus pair graph: old-old pairs are spanned by the
   * label edges, old-new/new-new pairs are in `newPairs`, and
   * components that were split only because yesterday's corpus lacked
   * the bridging batch doc re-merge through its edges. Labels stay
   * min-id over the (identical) membership, so the result
   * hash-matches a full recompute — `dedup_clusters_incremental`
   * rides `dedup_clusters`' oracle verbatim. Work is
   * |labels| + |batch pairs|, never the corpus pair graph: the
   * nightly-delta shape at 100 TB.
   */
  def duplicateClustersIncremental(existing: DataFrame,
                                   newPairs: DataFrame): DataFrame = {
    val labelEdges = existing
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    // singleton-canonical rows (doc_id == cluster_id) carry no edge,
    // but their doc must stay labeled even if the batch ignores it —
    // re-attach after the CC by unioning the old labels back in and
    // keeping the MIN cluster per doc (a merged component's new label
    // is ≤ any old one by min-id monotonicity)
    val merged = duplicateClusters(
      labelEdges.unionAll(newPairs.select(col("doc_a"), col("doc_b"))))
    merged.unionByName(existing)
      .groupBy("doc_id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Driver-side connected components for small pair graphs: classic
    * union-find with path compression + union by rank, min-element
    * canonical label per component (natural ordering of the id type —
    * identical to the distributed path's `min`/`least` semantics for
    * int/long/string ids, which the size-switch restricts to). */
  private def localClusters(p: DataFrame,
                            rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val spark = p.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      p.schema("doc_a").copy(name = "doc_id"),
      p.schema("doc_a").copy(name = "cluster_id")))
    val idx = new java.util.HashMap[Any, Int]()
    val nodes = scala.collection.mutable.ArrayBuffer[Any]()
    def nodeId(v: Any): Int =
      if (idx.containsKey(v)) idx.get(v)
      else { idx.put(v, nodes.length); nodes += v; nodes.length - 1 }
    val parent = scala.collection.mutable.ArrayBuffer[Int]()
    val rank = scala.collection.mutable.ArrayBuffer[Byte]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = nodeId(r.get(0)); val b = nodeId(r.get(1))
      while (parent.length < nodes.length) { parent += parent.length; rank += 0 }
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    val lt: (Any, Any) => Boolean = p.schema("doc_a").dataType match {
      case org.apache.spark.sql.types.StringType =>
        (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
      case _ => (a, b) => // int/long — guarded by the caller's type check
        a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    }
    // min element per component
    val minOf = new java.util.HashMap[Int, Any]()
    nodes.indices.foreach { i =>
      val root = find(i)
      val cur = minOf.get(root)
      if (cur == null || lt(nodes(i), cur)) minOf.put(root, nodes(i))
    }
    val out = nodes.indices.map { i =>
      org.apache.spark.sql.Row(nodes(i), minOf.get(find(i)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /**
   * Component labels over the banded-LSH verified near-dup graph —
   * the ONE-WAVE cluster path for ordinary corpora: candidate volume
   * tracks duplicate mass (band collisions), not Σdf², so it stays
   * ~linear where the exact prefix join goes quadratic (measured at
   * the ×10 corpus: 150 MB vs 1.8 GB shuffle, 3.4 s vs 4.7 s).
   * Recall is the standard LSH guarantee (miss ~8e-8 per genuine
   * pair at t=0.8 with 32×16 banding); the driver gate's
   * `dedup_minhash` row certifies zero misses against the EXACT pair
   * oracle on the catalog corpus. When duplicate CLIQUES dominate
   * (a page cloned 10⁶ times makes banded buckets quadratic too),
   * use [[nearDupComponents]] instead — its star+repair verifies
   * cliques at linear mass.
   */
  def nearDupClusters(df: DataFrame, content: Column, id: Column,
                      k: Int = 3, threshold: Double = 0.8): DataFrame =
    duplicateClusters(minhashLshVerified(df, content, id, k, threshold = threshold))

  /** Band-bucket candidate-mass profile: over the MinHash band buckets
    * (the same bucket structure both cluster strategies join on),
    * `pairMass` = Σ C(size,2) — what one-wave verification pays — and
    * `starMass` = Σ (2·size−3)⁺ — what the star seed pays. Their ratio
    * IS the decision variable between the strategies (SURVEY.md rows
    * #184/#185, measured: ordinary corpora ratio ≈ 1–2 and one-wave wins wall
    * time because star's repair wave re-checks junk collisions
    * serially; a 250-clone clique corpus has ratio ≈ 62 and star wins
    * 2.74 GB → 115 MB). Cost: one signature pass + one count
    * aggregation keyed by band bucket — the aggregation the banded
    * join itself would pay, paid once up front. */
  final case class ClusterCandidateMass(pairMass: Double, starMass: Double) {
    def ratio: Double = if (starMass <= 0) 1.0 else pairMass / starMass
  }

  def clusterCandidateMass(df: DataFrame, content: Column, id: Column,
                           k: Int = 3, numHashes: Int = 32,
                           bands: Int = 16): ClusterCandidateMass = {
    val rows = numHashes / bands
    val sig = minhashSignatures(df, content, id, k, numHashes)
    val m = bandFrame(sig, bands, rows)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("s"))
      .agg(
        coalesce(sum(col("s") * (col("s") - 1) / 2), lit(0L)).cast("double").as("pairs"),
        coalesce(sum(greatest(col("s") * 2 - 3, lit(0L))), lit(0L)).cast("double").as("star"))
      .collect()(0)
    ClusterCandidateMass(m.getDouble(0), m.getDouble(1))
  }

  /** Above this pairMass/starMass ratio the duplicate mass is
    * clique-shaped and star+repair beats one-wave (measured crossover
    * sits far from both regimes: ordinary ≈ 1–2, 250-clone ≈ 62). */
  val StarRepairRatio: Double = 16.0

  /** Pick the cluster strategy from the measured band-bucket skew —
    * what `cluster_strategy: auto` resolves to. Deliberately
    * threshold-independent: the decision variable is bucket SHAPE
    * (clique mass vs ordinary collisions), which the Jaccard
    * threshold does not move; both banded strategies share one miss
    * probability at any given threshold, so it cannot prefer one. */
  def chooseClusterStrategy(df: DataFrame, content: Column, id: Column,
                            k: Int = 3): String = {
    val m = clusterCandidateMass(df, content, id, k)
    val pick = if (m.ratio > StarRepairRatio) "star_repair" else "one_wave"
    log.info(f"[graft] chooseClusterStrategy: pairMass=${m.pairMass}%.0f " +
      f"starMass=${m.starMass}%.0f ratio=${m.ratio}%.1f -> $pick")
    pick
  }

  /**
   * Near-dup CONNECTED COMPONENTS without materializing the quadratic
   * verified-pair set — the scale path for CLUSTER consumers
   * (cluster dedup, keep-best, the composed pipelines), producing
   * labels IDENTICAL to `duplicateClusters(ngramJaccard(df, ...))`
   * at a fraction of the shuffle.
   *
   * Why: within a family of c mutual near-clones the genuine pair set
   * is C(c,2) — and exact-verify rescoring carries a shingle array per
   * candidate pair, so the shuffle grows ~quadratically in clone count
   * (measured ×80 bytes for ×10 input on the duplicate-heavy corpus).
   * Connected components never needed all those edges: any spanning
   * subset yields the same labels.
   *
   * Two phases, exact by construction:
   *
   *  1. STAR SEED — in every prefix bucket only pairs touching the
   *     bucket's MIN or MAX doc_id become candidates. The two reps
   *     come from one `min(struct)/max(struct)` aggregation (codegen'd,
   *     map-side partial, skew-immune) that also yields the bucket
   *     size for phase 2. Verified mass is ≤ 2·|prefix rows| — LINEAR
   *     in the corpus. On clique-shaped families (the actual duplicate
   *     mass) the star alone already connects everything.
   *  2. REPAIR to a fixed point — re-run the prefix self-join with
   *     each side carrying its CURRENT component label, keeping only
   *     cross-label pairs not already tried. Two structural prunes
   *     keep this pass near-free: (a) only buckets with MORE THAN 3
   *     members participate (in a ≤3 bucket every pair touches the
   *     min or max member, so it was star-tried — and most buckets
   *     are size 1–2), and (b) quadratic same-label matches are
   *     dropped inside the join, never shuffled. Each round verifies
   *     only the surviving frontier, merges, and repeats until no
   *     unseen cross-label candidate remains.
   *
   * Exactness: a genuine pair (x,y) shares a prefix element
   * (prefix-filter theorem, no false negatives). If that shared
   * bucket has ≤3 members the pair was star-verified, hence merged.
   * Otherwise, while label(x) ≠ label(y) the pair stays a cross-label
   * candidate of a big bucket; it is verified (genuine ⇒ passes) in
   * some repair round, after which they share a component. At the
   * fixed point every genuine pair is intra-component — exactly the
   * components of the full pair graph, including which docs appear at
   * all (a doc is labeled iff it has a verified edge iff it has a
   * genuine pair). `maxRepairRounds` is a pathology guard (each round
   * strictly grows the tried set, so termination is guaranteed
   * anyway); rounds > 1 only occur on chain topologies, which carry
   * no quadratic mass.
   *
   * CANDIDATE FAMILIES — `candidates` picks which bucket structure
   * defines the graph being componentized:
   *  - `"prefix"`: PPJoin prefix buckets → labels exactly equal
   *    `duplicateClusters(ngramJaccard(...))`. Exact, but candidate
   *    volume grows with Σdf² (superlinear on vocabulary-bounded
   *    corpora) and the repair round must verify every cross-label
   *    false candidate once — measured break-even with the full-pair
   *    path on the ×10 corpus, winning only when duplicate cliques
   *    dominate the candidate mass.
   *  - `"banded"`: MinHash band buckets → labels exactly equal
   *    `duplicateClusters(minhashLshVerified(...))` (same candidate
   *    family, same exact verification; the usual LSH miss bound,
   *    ~8e-8 per genuine pair at t=0.8). Measured at the ×10 corpus:
   *    219 MB shuffle vs the prefix mode's 1.95 GB.
   *  - `"auto"` (default): prefix, flipping to banded past the same
   *    candidate-volume pre-flight as [[ngramJaccard]].
   *
   * WHEN TO USE WHICH (measured, SURVEY.md rows #184/#185): on
   * ordinary corpora the one-wave [[nearDupClusters]] wins wall time
   * — junk bucket collisions are cross-label forever, so the repair
   * wave re-checks them serially (×10 corpus: 10.4 s here vs 3.4 s one-wave, same
   * shuffle order). This operator is for the CLIQUE-HEAVY regime — a
   * boilerplate page cloned 10⁵–10⁶ times makes every banded bucket
   * quadratic in clones, one-wave verification is C(c,2) per family
   * and infeasible, while the star collapses each clique at 2c
   * verifications and the repair frontier is empty.
   * Output: (doc_id, cluster_id) — [[duplicateClusters]]'s contract.
   */
  def nearDupComponents(df: DataFrame, content: Column, id: Column,
                        k: Int = 3, threshold: Double = 0.8,
                        candidates: String = "auto",
                        freqOrdered: Boolean = true,
                        freqIn: Option[Array[Long]] = None,
                        statsIn: Option[ShingleStats] = None,
                        maxRepairRounds: Int = 8,
                        maxCandidatesPerDoc: Int = DefaultMaxCandidatesPerDoc): DataFrame = {
    require(Set("auto", "prefix", "banded").contains(candidates),
      s"nearDupComponents: unknown candidates strategy '$candidates'")
    if (candidates != "banded") {
      val sigs = shingleSigs(df, content, id, k)
      val stats = statsIn.orElse {
        if (freqIn.isDefined || !freqOrdered || maxCandidatesPerDoc <= 0) None
        else Some(statsOf(sigs))
      }
      val degenerate = candidates == "auto" &&
        stats.exists(st => maxCandidatesPerDoc > 0 &&
          st.estCandidatesPerDoc(threshold) > maxCandidatesPerDoc)
      if (degenerate) {
        log.info(f"[graft] nearDupComponents: est. " +
          f"${stats.get.estCandidatesPerDoc(threshold)}%.0f candidates/doc > " +
          s"$maxCandidatesPerDoc — vocabulary-bounded corpus, banded buckets")
        // fall through to the banded path below
      } else {
        val freq = freqIn.orElse(stats.map(_.frequent)).getOrElse(
          if (freqOrdered) frequentSet(sigs, 4, 1 << 20) else Array.emptyLongArray)
        // drop the fingerprint column: componentsOverBuckets' star and
        // repair candidates never evaluate fpJoinCond (their junk is
        // re-checked by exact rescoring), and carrying the per-doc
        // smallint array through the cached bucket frame and the
        // struct min/max aggregation would be pure payload
        val prefixes = OpCache.cache(prefixFrame(sigs, threshold, freq)
          .drop("f16", "flast").withColumnRenamed("ph", "bk"))
        return componentsOverBuckets(prefixes, sigs,
          prefixLenPosCond(threshold), threshold, maxRepairRounds)
      }
    }
    // banded: bucket key = (band, band_hash) folded to one 64-bit
    // hash (collisions only merge buckets = a candidate superset —
    // verification keeps it exact)
    import graft.functions.TextHashExprs
    val both = OpCache.cache(Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
          TextHashExprs.minhashWithShingles(content, k, 32).as("b"))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("b.sig").as("sig"), col("b.sh").as("sh")))
    val sigsB = both.select("doc_id", "sh")
    val banded = bandFrame(both.select("doc_id", "sig"), bands = 16, rows = 2)
      .select(col("doc_id"), xxhash64(col("band"), col("band_hash")).as("bk"))
    componentsOverBuckets(OpCache.cache(banded), sigsB,
      lit(true), threshold, maxRepairRounds)
  }

  /** The star+repair component machinery over an arbitrary bucket
    * frame (doc_id, bk [, cond columns]); see [[nearDupComponents]].
    * `extraCond` is evaluated against aliases "a"/"b" on top of the
    * bucket-key equality. */
  private def componentsOverBuckets(buckets: DataFrame, sigs: DataFrame,
                                    extraCond: Column, threshold: Double,
                                    maxRepairRounds: Int): DataFrame = {
    val bcols = buckets.columns.filterNot(_ == "bk") // doc_id [, sz, p]
    // ONE aggregation yields both reps (min/max member, its cond
    // columns riding the doc_id-led lexicographic struct order) and
    // the bucket size phase 2 prunes on
    val bucketAgg = OpCache.cache(buckets.groupBy(col("bk"))
      .agg(min(struct(bcols.map(col): _*)).as("lo"),
        max(struct(bcols.map(col): _*)).as("hi"),
        count(lit(1)).as("bsz")))
    val repRows = bucketAgg
      .select(col("bk"), explode(array(col("lo"), col("hi"))).as("r"))
      .select(col("bk") +: bcols.map(c => col(s"r.$c").as(c)): _*)
      .distinct() // lo == hi on singleton buckets
    val starCand = repRows.as("a").join(buckets.as("b"),
        col("a.bk") === col("b.bk") &&
          col("a.doc_id") =!= col("b.doc_id") && extraCond)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    var tried = OpCache.cache(starCand)
    var edges = OpCache.cache(
      rescore(tried, sigs, threshold).select("doc_a", "doc_b"))
    var labels = duplicateClusters(edges)
    // phase 2: cross-label frontier over big buckets until fixed
    // point (a ≤3 bucket's every pair touches its min or max member,
    // so it was star-tried — only bigger buckets can hide a pair)
    val bucketsBig = OpCache.cache(buckets.join(
      bucketAgg.filter(col("bsz") > 3).select("bk"), Seq("bk"), "left_semi"))
    var round = 0
    var frontier = 1L
    while (frontier > 0 && round < maxRepairRounds) {
      val pl = bucketsBig.join(labels, Seq("doc_id"), "left")
        .withColumn("lbl", coalesce(col("cluster_id"), col("doc_id")))
        .drop("cluster_id")
      val cross = pl.as("a").join(pl.as("b"),
          col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id") && extraCond &&
            col("a.lbl") =!= col("b.lbl"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val fresh = OpCache.cache(cross.join(tried, Seq("doc_a", "doc_b"), "left_anti"))
      frontier = fresh.count()
      if (frontier > 0) {
        val good = rescore(fresh, sigs, threshold).select("doc_a", "doc_b")
        edges = OpCache.cache(edges.unionAll(good))
        tried = OpCache.cache(tried.unionAll(fresh))
        labels = duplicateClusters(edges)
      }
      round += 1
    }
    if (frontier > 0)
      log.warn(s"[graft] nearDupComponents: frontier nonempty after " +
        s"$maxRepairRounds repair rounds (pathological chain); labels may merge short")
    labels
  }

  /**
   * Benchmark DECONTAMINATION: drop corpus documents whose NORMALIZED
   * fingerprint (md5 of the sorted lowercased token list — order- and
   * whitespace-insensitive) appears in a benchmark/eval set — the
   * standard guard against test-set leakage into training data.
   * Anti join on a 32-char fingerprint: fingerprints are computed
   * map-side on both scans, the join key is narrow, and the benchmark
   * side (an eval suite — tiny in practice) is broadcast by default,
   * so the corpus is never shuffled at all.
   */
  def decontaminate(df: DataFrame, content: Column,
                    benchmark: DataFrame, benchContent: Column,
                    broadcastBench: Boolean = true): DataFrame = {
    val fps = benchmark
      .select(TextAnalysisCols.normFingerprint(benchContent).as("__bench_fp"))
      .distinct()
    val b = if (broadcastBench) broadcast(fps) else fps
    df.join(b, TextAnalysisCols.normFingerprint(content) === col("__bench_fp"), "left_anti")
  }

  /**
   * BLOOM-PREFILTERED DECONTAMINATION: result-identical to
   * [[decontaminate]], built for benchmark sets too large to
   * broadcast as an exact hash set. A Bloom filter over the
   * benchmark's fingerprint hashes (built once, `fpp` false-positive
   * rate, kilobytes→megabytes regardless of corpus size) is shipped
   * inside a codegen'd `might_contain` predicate — the same
   * mechanism as Spark's own runtime bloom-filter join pruning:
   *
   *  - rows whose fingerprint is definitely NOT in the benchmark
   *    (no false negatives) pass through with NO join at all;
   *  - only the might-contain sliver (true matches + fpp of the
   *    clean corpus) reaches the exact anti join, so the shuffle is
   *    bounded by ~(matches + fpp·n), not n.
   *
   * TRADE-OFF: the two branches are two scans of `df` — the operator
   * spends scan I/O (cheap, columnar, scan-side-filtered) to keep the
   * SHUFFLE bounded by the sliver, which is the binding constraint
   * when the benchmark cannot broadcast. Null content rows survive
   * either way: `xxhash64(null)` is the hash seed, so a null row
   * lands in whichever branch the seed's bloom bit dictates, and if
   * it reaches the anti join its null fingerprint matches nothing —
   * same outcome as the exact operator.
   */
  def decontaminateBloom(df: DataFrame, content: Column,
                         benchmark: DataFrame, benchContent: Column,
                         expectedItems: Long = 0L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    // cached: read by the cardinality count, the bloom build and the
    // anti join (released via OpCache like every operator cache)
    val benchFp = OpCache.cache(benchmark
      .select(TextAnalysisCols.normFingerprint(benchContent).as("__bench_fp"))
      .distinct())
    val hashes = benchFp.select(xxhash64(col("__bench_fp")).as("__h"))
    // sizing the filter needs a cardinality; an explicit expectation
    // avoids the extra action on repeated builds
    val n = if (expectedItems > 0) expectedItems else math.max(hashes.count(), 1L)
    val bloom = hashes.stat.bloomFilter("__h", n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val fp = TextAnalysisCols.normFingerprint(content)
    val might = coalesce(
      GraftBridge.column(BloomFilterMightContain(
        Literal(bytes, BinaryType), GraftBridge.expression(xxhash64(fp)))),
      lit(false))
    df.filter(!might)
      .unionByName(df.filter(might)
        .join(benchFp, fp === col("__bench_fp"), "left_anti"))
  }

  /**
   * N-GRAM CONTAMINATION SCORE: per document, the fraction of its
   * distinct word n-grams that appear anywhere in the benchmark set —
   * the standard overlap-based decontamination metric (catches partial
   * inclusion and paraphrase-with-shared-spans leakage that the exact
   * [[decontaminate]] fingerprint cannot; threshold on `contamination`
   * to drop). Documents with fewer than `n` tokens have no n-grams and
   * are omitted.
   *
   * Scale: benchmark n-gram hashes are distinct'd (eval suites are
   * small) and BROADCAST; the corpus side is a scan-side shingle
   * projection + explode, so the only shuffle is the per-doc count of
   * CONTAMINATED hits — a frame bounded by the contaminated subset,
   * not the corpus. Totals are map-side. For benchmark sets too big to
   * broadcast exactly, pre-filter with a Bloom filter and rescore the
   * survivors with this exact join.
   *
   * Output: (doc_id, n_ngrams, n_contaminated, contamination).
   */
  def contaminationScore(df: DataFrame, content: Column, id: Column,
                         benchmark: DataFrame, benchContent: Column,
                         n: Int = 8): DataFrame = {
    import graft.functions.TextHashExprs
    val totals = Scale.ensureParallelism(df)
      .select(id.as("doc_id"), TextHashExprs.shingleHashes(content, n).as("sh"))
      .filter(col("sh").isNotNull)
    val benchSet = benchmark
      .select(explode(TextHashExprs.shingleHashes(benchContent, n)).as("h"))
      .distinct()
    val hits = totals.select(col("doc_id"), explode(col("sh")).as("h"))
      .join(broadcast(benchSet), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    // no broadcast hint on hits: it is usually tiny (AQE broadcasts it
    // at runtime) but is bounded by the contaminated subset, not by
    // the eval suite — a forced broadcast could OOM on a pathologically
    // contaminated corpus
    totals.select(col("doc_id"), size(col("sh")).cast("long").as("n_ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_ngrams"))
  }

  /**
   * DUPLICATE-NGRAM COVERAGE (the memorization-risk diagnostic behind
   * exact-substring dedup — Lee et al. '21, "Deduplicating Training
   * Data Makes Language Models Better", arXiv:2107.06499): for each
   * document, the fraction of its n-gram INSTANCES (positional, not
   * distinct) whose n-gram also occurs in ≥ `minDocs` distinct
   * documents. High coverage = the document is largely assembled from
   * corpus-repeated spans — the rows substring-level dedup would carve.
   * Output: (doc_id, n_ngrams, n_dup, dup_frac).
   *
   * Scale: n-grams travel as 64-bit xxhash64 keys, never as strings —
   * every shuffle carries (doc_id, hash, count) triples (counts are
   * identical modulo 64-bit collisions; the DuckDB oracle joins on
   * the strings themselves and hash-matches, certifying
   * collision-freeness on the gate data). One aggregation keyed
   * (doc, hash) yields both the per-doc instance counts and the
   * distinct doc-ngram pairs; the document-frequency side is bounded
   * by distinct-ngram cardinality and shrunk by the ≥ minDocs filter
   * BEFORE the join, so the join side carries only repeated n-grams —
   * a small fraction of any healthy corpus. Nothing is all-pairs.
   */
  def dupNgramCoverage(df: DataFrame, content: Column, id: Column,
                       n: Int = 5, minDocs: Int = 2): DataFrame = {
    // one fused tokenize+hash kernel per row (positional, multiplicity
    // kept); cached because the frame feeds both the instance pipeline
    // and the per-doc totals — (id, long-array) rows, narrow
    val base = OpCache.cache(Scale.ensureParallelism(df)
      .select(id.as("doc_id"),
        graft.functions.TextHashExprs.ngramHashInstances(content, n).as("hs")))
    // per-(doc, ngram-hash) instance counts computed IN the scan
    // projection (LongCountsExpr: sort + run-length over the hash
    // array) — the exchange that used to aggregate raw instances by
    // (doc_id, h) is gone; only already-distinct-per-row (doc, h,
    // cnt) triples ever shuffle. The dupSet branch re-keys its copy
    // to (h, doc_id) for the distinct-document count, the dup branch
    // exchanges by h — both narrow.
    val perDoc = base
      .select(col("doc_id"),
        explode(graft.functions.TextHashExprs.longCounts(col("hs"))).as("p"))
      .select(col("doc_id"), col("p.h").as("h"), col("p.cnt").as("cnt"))
    // document frequency counts DISTINCT doc_ids: LongCountsExpr
    // dedups within one row's array, so without this a doc_id split
    // across input rows (re-ingested shard, unioned snapshots) would
    // count once per ROW and flag its every n-gram as corpus-repeated
    val dupSet = perDoc.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val dup = perDoc.join(dupSet, "h")
      .groupBy("doc_id").agg(sum("cnt").as("n_dup"))
    // per-DOC totals (not per input row): a split doc's rows merge
    // here, so n_dup is always measured against the document's full
    // instance count and dup_frac stays in [0, 1]; both this tiny
    // (doc_id, int) aggregate and `dup` key by doc_id, so the final
    // join co-partitions without a further exchange
    base.select(col("doc_id"),
        coalesce(size(col("hs")).cast("long"), lit(0L)).as("nn"))
      .groupBy("doc_id").agg(sum("nn").as("n_ngrams"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_ngrams") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_ngrams")))
  }

  /**
   * CORPUS-WIDE PARAGRAPH DEDUP: every paragraph that occurs more than
   * once in the corpus (across documents OR repeated inside one) is
   * kept only at its canonical first occurrence — the smallest
   * (doc_id, position) — and dropped everywhere else (RefinedWeb-style
   * exact substring dedup at paragraph granularity; the complement of
   * [[Chunking.stripBoilerplate]], which drops frequent lines
   * everywhere including their first occurrence).
   *
   * Scale: paragraphs travel as md5 keys, never as text join keys.
   * The duplicate set (count > 1 only) is the join side — bounded by
   * the corpus' duplicate mass, not its size — and carries one 16-byte
   * canonical struct per duplicated paragraph. Rebuild is one shuffle
   * keyed by doc id with a positional sort inside the aggregation, so
   * output text is byte-deterministic regardless of partitioning.
   *
   * Output: (doc_id, text_clean, n_kept, n_dropped); a document whose
   * every paragraph is a non-canonical duplicate survives with
   * text_clean = "". A null content column generates no paragraphs,
   * so null-text documents are absent from the output — filter or
   * coalesce upstream if they must be preserved.
   */
  def dedupParagraphs(df: DataFrame, content: Column, id: Column,
                      sep: String = "\n"): DataFrame = {
    val paras = df.select(id.as("doc_id"),
        posexplode(split(content, java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "para")
      .withColumn("__h", md5(col("para")))
    val dups = paras.groupBy("__h")
      .agg(min(struct(col("doc_id"), col("p"))).as("__canon"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__h").as("__dh"), col("__canon"))
    val aggs = Chunking.rebuildByPosition("para", sep)
    paras.join(dups, col("__h") === col("__dh"), "left")
      .select(col("doc_id"), col("p"), col("para"),
        (col("__dh").isNull ||
          (col("__canon.doc_id") === col("doc_id") && col("__canon.p") === col("p")))
          .as("__keep"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /**
   * EXACT SUBSTRING DEDUP (Lee et al. '21, "Deduplicating Training
   * Data Makes Language Models Better"): remove every ≥`w`-token span
   * that occurs verbatim more than once in the corpus, keeping ONE
   * canonical occurrence (the minimal (doc_id, position)). The
   * memorization-critical dedup the document-level family cannot do:
   * boilerplate paragraphs, license headers and quoted chunks
   * duplicate across otherwise-distinct documents.
   *
   * Construction (all exchanges carry hashes/positions, never text):
   *  1. scan-side window ids: md5 of every w-token window instance
   *     ([[graft.functions.TextHashExprs.NgramMd5InstancesExpr]], one
   *     fused pass) → posexplode to (doc_id, pos, h).
   *  2. one hash-shuffle groupBy(h): instance count + min
   *     (doc_id, pos) canonical — 16-byte keys.
   *  3. non-canonical instances of repeated windows expand to their
   *     covered positions [pos, pos+w); the per-doc cover set
   *     aggregates over COVERED positions only — bounded by duplicate
   *     mass, not corpus size.
   *  4. rebuild is SCAN-SIDE: the cover array joins back on doc_id
   *     and a filter-with-index HOF drops covered tokens — the corpus
   *     text itself is never shuffled.
   *
   * Output: (doc_id, text_dedup, n_tokens, n_removed); a fully-
   * duplicated document survives with text_dedup = "" (whitespace is
   * normalized to single spaces by reconstruction). Overlapping
   * repeated windows union their covered ranges, so a long duplicated
   * passage is removed once, wholly,  without double-counting.
   *
   * `hash64 = true` is the 100 TB path: window ids are 8-byte XXH64
   * instead of 32-char md5 hex, cutting the per-token exchange volume
   * ~4× (one window id per token position is the dominant shuffle).
   * Collisions (2⁻⁶⁴ per window pair) would only remove a uniquely-
   * occurring span — spec-asserted identical to the md5 path on real
   * corpora; the md5 default is what the cross-engine oracle can
   * reproduce. Case-sensitivity note: XXH64 windows share the
   * lowercasing-free tokenizer md5 windows use.
   */
  def dedupSubstrings(df: DataFrame, content: Column, id: Column,
                      w: Int = 50, hash64: Boolean = false): DataFrame = {
    require(w >= 2, "window must be at least 2 tokens")
    // spread the window-hash explode across cores: a single-file scan
    // arrives as 1-2 partitions and the per-window md5 pass is the
    // operator's CPU mass (r16: ~1.6 s serial at sf0.1); no-op on
    // multi-split inputs at scale
    val base = Scale.ensureParallelism(
      df.select(id.as("doc_id"), content.as("__text")))
    val windowIds =
      if (hash64) graft.functions.TextHashExprs.ngramRawHashInstances(col("__text"), w)
      else graft.functions.TextHashExprs.ngramMd5Instances(col("__text"), w)
    val windows = base.select(col("doc_id"), posexplode(windowIds))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")
    val repeated = windows.groupBy("h")
      .agg(min(struct(col("doc_id"), col("p"))).as("canon"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("h").as("rh"), col("canon"))
    val covered = windows.join(repeated, col("h") === col("rh"))
      .filter(!(col("canon.doc_id") === col("doc_id") && col("canon.p") === col("p")))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + lit(w - 1))).as("cp"))
      .distinct()
    val covers = covered.groupBy("doc_id")
      .agg(collect_list(col("cp")).as("__cover"))
    val toks = split(trim(col("__text")), "\\s+")
    // rebuild via array_except over POSITIONS (hash-set based, linear)
    // rather than filter+array_contains, whose per-token linear probe
    // of the cover array is O(n_tokens × covered) — quadratic exactly
    // on the heavily-duplicated documents this operator targets;
    // array_except preserves first-array order, so the positional
    // rebuild stays byte-deterministic
    val keptPositions = array_except(
      sequence(lit(0), size(toks) - 1), col("__cover"))
    base.join(covers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__text").isNull || length(trim(col("__text"))) === 0, lit(0))
          .otherwise(size(toks)).cast("int").as("n_tokens"),
        coalesce(size(col("__cover")), lit(0)).cast("int").as("n_removed"),
        when(col("__cover").isNull, concat_ws(" ", toks))
          .otherwise(concat_ws(" ",
            transform(keptPositions, i => element_at(toks, i + 1))))
          .as("text_dedup"))
  }
}
