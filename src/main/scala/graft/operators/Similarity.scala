package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Embedding similarity: cosine near-dup pairs and approximate
 * nearest-neighbor top-k over an `array<float>` column.
 *
 * All kernels are pure Catalyst expression trees
 * (`zip_with` + `aggregate`) — codegen'd, no UDF serialization on
 * the hot path. Floats are widened to double BEFORE any arithmetic
 * (exact) so scores are stable across platforms.
 *
 * Scale design: the brute-force variants are the small-side /
 * correctness baseline; the scale path is random-hyperplane LSH
 * ([[lshTopK]], [[lshDupPairs]]): per-vector signatures in one
 * projection, then candidate generation as an equi-join on
 * (table, bucket) — a plain hash shuffle whose key cardinality we
 * control via bits-per-table, never an O(n²) cross join. This is the
 * standard SimHash-for-cosine construction (Charikar '02): P[bit
 * match] = 1 - angle/π, so vectors at cosine ≥ t collide in a b-bit
 * bucket with probability ≥ (1-arccos(t)/π)^b per table.
 */
object Similarity {

  // operator diagnostics ride log4j, not stdout (see Dedup.log)
  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.operators.Similarity")

  /** Σ aᵢ·bᵢ in double arithmetic, left-to-right order. Native codegen
    * expression ([[graft.functions.VectorExprs.VecDot]]) — same
    * arithmetic as the `aggregate(zip_with(...))` HOF fold it
    * replaced, ~10× faster (no per-row intermediate array). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.vecDot(a, b)

  /** ‖a‖₂ in double arithmetic (native codegen expression). */
  def l2Norm(a: Column): Column = graft.functions.VectorExprs.vecNorm(a)

  /** Cosine similarity (0 where either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** (id, vec, norm) projection used by the pairwise kernels: norms
    * are computed once per vector, not once per pair. Parallelism is
    * guarded — a 1-partition corpus would otherwise serialize the
    * pairwise scoring onto one core. */
  private def withNorm(df: DataFrame, id: Column, vec: Column): DataFrame =
    Scale.ensureParallelism(df)
      .select(id.as("id"), vec.as("vec"), l2Norm(vec).as("norm"))

  /** Candidate frame (qid, neighbor_id, <score>) → ranked
    * (id, neighbor_id, <score>, rank 1..k) via the bounded-heap
    * aggregate ([[graft.functions.TopKExprs]]) instead of
    * `row_number() OVER`: the window form sorts the ENTIRE candidate
    * frame (the ~630 MB-per-entry sf1 spill planaudit flagged — at
    * 100 TB, the bottleneck), while the heap partial-aggregates
    * map-side to ≤k rows per query before the exchange. Identical
    * selection semantics (score best-first, neighbor id asc on ties);
    * `distinctIds` folds LSH's multi-table duplicate drop into the
    * same pass (duplicates carry identical scores, so id-dedup inside
    * the heap ≡ `.distinct()` + window, one exchange fewer). */
  private def rankCandidates(cand: DataFrame, k: Int, scoreName: String,
                             bigBetter: Boolean,
                             distinctIds: Boolean = false): DataFrame = {
    import graft.functions.TopKExprs
    val sel =
      if (bigBetter)
        TopKExprs.topKBySim(col("neighbor_id"), col(scoreName), k,
          distinctIds, scoreName)
      else
        TopKExprs.topKByDist(col("neighbor_id"), col(scoreName), k,
          distinctIds, scoreName)
    cand.groupBy(col("qid"))
      .agg(sel.as("__nn"))
      .select(col("qid").as("id"), posexplode(col("__nn")))
      .select(col("id"), col("col.neighbor_id").as("neighbor_id"),
        col(s"col.$scoreName").as(scoreName),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Embedding near-dup pairs: (id_a, id_b, cos_sim) with
   * cos_sim ≥ threshold and id_a < id_b. Brute force O(n²) — the
   * correctness baseline; use [[lshDupPairs]] at scale.
   */
  def cosineDupPairs(df: DataFrame, id: Column, vec: Column,
                     threshold: Double = 0.95): DataFrame = {
    val v = withNorm(df, id, vec)
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        when(col("a.norm") * col("b.norm") === 0.0, lit(0.0))
          .otherwise(dot(col("a.vec"), col("b.vec")) /
            (col("a.norm") * col("b.norm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /**
   * Brute-force cosine top-k neighbors for every query vector:
   * (id, neighbor_id, cos_sim, rank), rank 1..k, ties broken by
   * neighbor id. The exact baseline ANN variants are measured
   * against. Cross-join + window — O(n·m), correct at any size but
   * only viable when one side is broadcastable.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     id: Column, vec: Column, k: Int = 10): DataFrame = {
    val q = withNorm(queries, id, vec)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("norm").as("qnorm"))
    val c = withNorm(corpus, id, vec)
    val cand = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("neighbor_id"),
        when(col("qnorm") * col("norm") === 0.0, lit(0.0))
          .otherwise(dot(col("qvec"), col("vec")) /
            (col("qnorm") * col("norm"))).as("cos_sim"))
    rankCandidates(cand, k, "cos_sim", bigBetter = true)
  }

  /** (id, vec, norm, table, bucket) — one row per (vector, table).
    * All signatures come from ONE native-expression pass
    * ([[graft.functions.VectorExprs.LshSignatures]]): near-Gaussian
    * deterministic hyperplanes (sum of 4 hashed uniforms — sign-LSH
    * collision probability tracks 1 - θ/π, which uniform-cube
    * components visibly miss: measured recall dropped ~2× with plain
    * uniforms), planes cached per executor, no broadcast state. */
  private def bucketed(df: DataFrame, id: Column, vec: Column,
                       tables: Int, bits: Int, seed: Int): DataFrame = {
    val b = if (bits > 0) bits else autoBits(df)
    val v = withNorm(df, id, vec)
    v.select(col("id"), col("vec"), col("norm"),
        posexplode(graft.functions.VectorExprs.lshSignatures(col("vec"), tables, b, seed)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
  }

  /**
   * OCCUPANCY-DRIVEN plane count (pass `bits = 0` to any LSH entry
   * point): candidate pairs grow as (n / 2^bits)² per bucket, so a
   * FIXED bits is quadratic in corpus growth — measured by the 10×
   * scale probe as a ×94 shuffle blow-up (ScaleBench, sim_lsh,
   * bits=8). Sizing 2^bits ∝ n pins mean bucket occupancy at
   * ~[[TargetBucket]] vectors, making candidate volume LINEAR in n:
   * bits = ceil(log2(n / TargetBucket)), clamped to [4, 20]. Row
   * count comes from parquet footers / plan stats
   * ([[Scale.estimatedRows]]) — no count() action, same trick as
   * IVF's √n cell sizing. The ceil-log2 is INTEGER arithmetic
   * (`numberOfLeadingZeros`), not `log/log(2)`: at exact
   * power-of-two occupancies a libm ulp can flip `ceil` either way,
   * and the sizing must be reproducible by any engine (the
   * `sim_lsh_auto` oracle re-derives it from `count(*)`).
   */
  def autoBits(df: DataFrame): Int = {
    val n = Scale.estimatedRows(df)
    // n/32 is an exact double op (scaling by 2^-5), so q is the exact
    // ceiling of n / TargetBucket for any footer-exact count
    val q = math.ceil(n / TargetBucket).toLong
    val ceilLog2 =
      if (q <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1L)
    math.min(20, math.max(4, ceilLog2))
  }

  /** Target mean LSH bucket occupancy under [[autoBits]]: small enough
    * to bound per-bucket pair blow-up, large enough that a k=10
    * neighborhood usually collides in ≥1 of the tables. */
  val TargetBucket: Int = 32

  /**
   * LSH-bucketed ANN top-k: candidates are corpus vectors sharing at
   * least one (table, bucket) with the query, scored exactly, then
   * ranked. Returns (id, neighbor_id, cos_sim, rank). Recall tunes
   * with `tables` (↑recall) and `bits` (↓bucket size / ↑speed).
   * Prefer `bits = 0` ([[autoBits]]): a fixed bits both explodes
   * candidates at 10× corpus growth (ScaleBench: ×94 shuffle) AND
   * halves recall when oversized for the corpus (RECALL.md: 0.15 vs
   * 0.36 at identical cost) — occupancy sizing fixes both ends.
   */
  def lshTopK(df: DataFrame, id: Column, vec: Column, k: Int = 10,
              tables: Int = 8, bits: Int = 8, seed: Int = 42): DataFrame = {
    val b = bucketed(df, id, vec, tables, bits, seed)
    val a = b.as("a")
    val c = b.as("c")
    // cos_sim is computed BEFORE the heap so the exchange carries
    // k-sized heap partials, not two 64-float vectors per candidate
    // (VecDot is cheap enough that re-scoring multi-table collisions
    // beats shuffling payloads); distinctIds folds the multi-table
    // duplicate drop into the heap — one exchange for dedup AND rank
    val cand = a.join(c, col("a.table") === col("c.table") &&
        col("a.bucket") === col("c.bucket") && col("a.id") =!= col("c.id"))
      .select(col("a.id").as("qid"), col("c.id").as("neighbor_id"),
        when(col("a.norm") * col("c.norm") === 0.0, lit(0.0))
          .otherwise(dot(col("a.vec"), col("c.vec")) /
            (col("a.norm") * col("c.norm"))).as("cos_sim"))
    rankCandidates(cand, k, "cos_sim", bigBetter = true, distinctIds = true)
  }

  /**
   * Deterministic SPHERICAL Lloyd's k-means over a bounded sample —
   * the IVF coarse quantizer. Sample vectors are L2-normalized before
   * training (and [[graft.functions.VectorExprs.NearestCentroids]]
   * normalizes at assignment time), so cell geometry matches the
   * cosine ranking IVF serves: ‖u−c‖² = 2 − 2·cos(u,c) on unit
   * vectors. The sample is small by construction (trainSize vectors ×
   * dim doubles ≈ 5 MB at the defaults); training an IVF codebook on
   * a sample is the standard construction (codebook quality barely
   * moves past ~100×nlist samples). Init picks evenly-spaced sample
   * points after sorting by id → same centroids on every run.
   *
   * The assignment step of each Lloyd iteration — the O(sample × k ×
   * dim) hot loop — fans out over all cores via parallel streams with
   * per-chunk partial sums (deterministic: float-free integer counts,
   * per-chunk double sums merged in chunk order). For cluster-scale
   * reuse, persist the codebook once with [[saveCentroids]] and feed
   * it back through `centroidsIn` — training is a one-off, not a
   * per-query cost.
   */
  def trainKmeans(df: DataFrame, id: Column, vec: Column, nlist: Int,
                  trainSize: Int = 10000, iters: Int = 10): Array[Array[Double]] = {
    val sample = normalizedSample(df, id, vec, trainSize)
    require(sample.nonEmpty, "empty training sample")
    val k = math.min(nlist, sample.length)
    if (k < nlist)
      log.warn(s"[graft] trainKmeans: nlist=$nlist clamped to sample size $k " +
        s"(raise trainSize for the documented n/sqrt(n) cell geometry)")
    lloyd(sample, k, iters)
  }

  /** Bounded driver-side training sample: lowest-id `trainSize`
    * vectors, L2-normalized with the inv-multiply arithmetic every
    * assignment path shares. */
  private def normalizedSample(df: DataFrame, id: Column, vec: Column,
                               trainSize: Int): Array[Array[Double]] =
    df.select(id.cast("long").as("id"), vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull) // null vectors: skip, like every scoring path
      .orderBy(col("id")).limit(trainSize)
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        var sq = 0.0; var j = 0
        while (j < v.length) { sq += v(j) * v(j); j += 1 }
        if (sq > 0) { val inv = 1.0 / math.sqrt(sq); j = 0
          while (j < v.length) { v(j) *= inv; j += 1 } }
        v
      }

  /** Deterministic chunk-parallel Lloyd iterations over an in-memory
    * sample (see [[trainKmeans]] for the determinism argument). */
  private def lloyd(sample: Array[Array[Double]], k: Int,
                    iters: Int): Array[Array[Double]] = {
    val dim = sample(0).length
    var centroids = Array.tabulate(k)(i => sample(i * sample.length / k).clone())
    // fixed chunk size: the per-chunk double partial sums group the FP
    // additions, so a core-count-dependent chunk size would make the
    // codebook machine-dependent; 256 is machine-independent and still
    // yields sample/256 ≈ 40 chunks of parallelism at the defaults
    val chunkSize = 256
    val chunks: Array[Array[Array[Double]]] = sample.grouped(chunkSize).toArray
    var it = 0
    while (it < iters) {
      val cents = centroids
      val partials = java.util.Arrays.stream(chunks).parallel().map { chunk =>
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        chunk.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d2 = 0.0; var j = 0
            while (j < dim) { val d = v(j) - cents(c)(j); d2 += d * d; j += 1 }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dim) { sums(best)(j) += v(j); j += 1 }
        }
        (sums, counts)
      }.collect(java.util.stream.Collectors.toList[(Array[Array[Double]], Array[Long])])
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      partials.forEach { case (ps, pc) =>  // sequential merge, chunk order → deterministic
        var c = 0
        while (c < k) {
          counts(c) += pc(c)
          var j = 0
          while (j < dim) { sums(c)(j) += ps(c)(j); j += 1 }
          c += 1
        }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else { val m = new Array[Double](dim); var j = 0
          while (j < dim) { m(j) = sums(c)(j) / counts(c); j += 1 }; m }
      }
      it += 1
    }
    centroids
  }

  /** Persist a trained codebook (one CSV line per centroid) for reuse
    * via `centroidsIn` — at cluster scale the codebook is trained
    * once and shipped to every query, never retrained per job. */
  def saveCentroids(path: String, centroids: Array[Array[Double]]): Unit = {
    val sb = new StringBuilder
    centroids.foreach { c => sb.append(c.mkString(",")).append('\n') }
    LogStore.forPath(path).putReplace(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a codebook written by [[saveCentroids]]. */
  def loadCentroids(path: String): Array[Array[Double]] =
    new String(LogStore.forPath(path).read(path),
      java.nio.charset.StandardCharsets.UTF_8).split('\n').filter(_.nonEmpty)
      .map(_.split(",").map(_.toDouble))

  /**
   * IVF-Flat ANN top-k: corpus vectors are assigned to their nearest
   * centroid cell (one projection); each query probes its `nprobe`
   * nearest cells; candidates = cell equi-join (a plain hash shuffle
   * keyed by cell id — at scale, cells are the partition unit and the
   * codebook is the only coordinated state). Exact cosine rescoring +
   * top-k window, same contract as [[lshTopK]]/[[bruteForceTopK]].
   *
   * Defaults scale with the corpus: `nlist ≤ 0` resolves to
   * max(16, ⌈√n⌉) — the standard IVF sizing, keeping both cell size
   * (n/√n) and probe cost (nprobe·√n candidates per query) sublinear —
   * where n comes from the CATALYST SIZE ESTIMATE (leaf bytes /
   * schema row width), not a `count()` action: sizing a parameter must
   * never cost a full scan of a 100 TB input. √n only needs the order
   * of magnitude, which the estimate delivers even under 2-4× parquet
   * compression skew. `nprobe ≤ 0` resolves to max(4, nlist/8), a
   * fixed ~12% cell fraction. The training sample scales with the
   * resolved nlist (≥32 points per centroid, capped at 100k so the
   * driver-side sample stays bounded). Pass a persisted codebook via
   * `centroidsIn` (see [[saveCentroids]]) to skip training entirely.
   */
  def ivfTopK(df: DataFrame, id: Column, vec: Column, k: Int = 10,
              nlist: Int = 0, nprobe: Int = 0,
              centroidsIn: Option[Array[Array[Double]]] = None): DataFrame =
    ivfCore(df, df, id, vec, k, nlist, nprobe, centroidsIn, excludeSelf = true)

  /**
   * CROSS-frame IVF serving — the actual production shape: a QUERY
   * BATCH against a separately-indexed corpus (the self-join
   * [[ivfTopK]] is its diagnostic special case). The corpus is
   * assigned to cells once (write-once index work), each query probes
   * its `nprobe` nearest cells, candidates rescore exactly and the
   * bounded-heap aggregate ranks per query. Self-matches are KEPT
   * (a query present in the corpus ranks itself at cos 1.0 — for
   * membership/decontamination lookups the self-match IS the
   * signal; drop rank 1 when serving "other" neighbors).
   */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, id: Column, vec: Column,
                k: Int = 10, nlist: Int = 0, nprobe: Int = 0,
                centroidsIn: Option[Array[Array[Double]]] = None): DataFrame =
    ivfCore(queries, corpus, id, vec, k, nlist, nprobe, centroidsIn,
      excludeSelf = false)

  /**
   * FILTERED ANN — top-k among corpus rows satisfying `where` (the
   * filtered-retrieval shape: "nearest English docs", "vectors from
   * this shard"). This is the PRE-FILTER strategy: the predicate
   * prunes corpus rows BEFORE cell assignment and distance compute
   * (Catalyst pushes it to the scan), so the result is exactly the
   * unfiltered search run against the restricted corpus — no
   * overfetch tuning, no recall cliff when the filter is selective
   * (the post-filter alternative re-ranks a k′ > k overfetch and
   * silently returns < k rows once the filter eats the margin). Pass
   * the CORPUS-trained codebook via `centroidsIn` so cell geometry
   * stays the index's own at any filter.
   */
  def ivfSearchWhere(queries: DataFrame, corpus: DataFrame,
                     id: Column, vec: Column, where: Column,
                     k: Int = 10, nlist: Int = 0, nprobe: Int = 0,
                     centroidsIn: Option[Array[Array[Double]]] = None): DataFrame =
    ivfCore(queries, corpus.filter(where), id, vec, k, nlist, nprobe,
      centroidsIn, excludeSelf = false)

  /**
   * VERSIONED VECTOR INDEX — the IVF index AS a [[Snapshot]] table:
   * rows (id, vec, norm, cell) partitioned by the IVF cell, so
   *
   *  - a query batch's probe set becomes a MANIFEST-pruned read
   *    ([[Snapshot.read]] with an IN list on the partition column):
   *    serving opens only the probed cells' files — no file listing, no
   *    footer pass, however many cells the 100 TB index holds;
   *  - index maintenance is [[Snapshot.merge]]: re-embedded docs
   *    upsert into their (possibly NEW) cell, retired docs delete —
   *    delta-sized copy-on-write commits, never an index rebuild;
   *  - every index state is versioned: serve yesterday's index with
   *    `version = v` (reproduce a recall report, A/B an embedding
   *    refresh), roll a bad refresh back in O(manifest).
   *
   * The codebook is pinned (train-once, [[saveCentroids]]) — cell
   * assignment must be stable across commits for partitions to mean
   * anything, the same train-once contract every IVF serve path here
   * uses. Norms are computed AT INDEX TIME and stored: serving never
   * re-normalizes the corpus.
   */
  /** `attrs` are pre-aliased metadata columns stored BESIDE the
    * vectors (lang, source, shard …) so filtered serving
    * ([[ivfIndexSearch]]'s `where`) evaluates inside the probed-cell
    * scan — no join back to a side table per query batch. */
  def ivfIndexCreate(spark: SparkSession, table: String, corpus: DataFrame,
                     id: Column, vec: Column,
                     centroids: Array[Array[Double]],
                     attrs: Seq[Column] = Nil): Snapshot.CommitStats =
    // DECLARED LAYOUT (opt guide §6, the r15 snapshot_multikey
    // lesson): without it the cell-partitioned write sprays one file
    // per (write task × cell) — measured 422 files across two commits
    // at sf0.1 (~19 per probed cell), every serve paying ~19 tiny
    // file opens per cell. `fileRanges` range-clusters rows by cell
    // before the partitionBy write, so each cell lands in ~one file
    // per commit; the layout is stored in the manifest and every
    // ivfIndexMerge rewrite re-applies it. Sized to the CELL COUNT
    // alone (r17, ADVICE fix): the r16 min(defaultParallelism, nlist)
    // was captured at BUILD time and persisted in the manifest, so an
    // index built in a small session (local[2]) permanently pinned
    // file_ranges=2 and capped the clustering of every later rewrite
    // even on a 32-core cluster. One range per cell is the declared-
    // layout intent, and a write of nlist small tasks is cheap at any
    // session size (nlist is hundreds-to-low-thousands by design).
    Snapshot.create(spark, table, indexRows(corpus, id, vec, centroids, attrs),
      key = "id", partitionCol = "cell",
      fileRanges = math.max(1, centroids.length))

  /** Apply an embedding refresh to the index: `upserts` are
    * re-embedded rows (assigned to their new cell — a vector whose
    * direction moved simply lands in a different partition),
    * `deleteIds` retires vectors. One atomic, time-travelable commit. */
  def ivfIndexMerge(spark: SparkSession, table: String, upserts: DataFrame,
                    id: Column, vec: Column,
                    centroids: Array[Array[Double]],
                    deleteIds: DataFrame,
                    attrs: Seq[Column] = Nil): Snapshot.CommitStats =
    Snapshot.merge(spark, table, indexRows(upserts, id, vec, centroids, attrs),
      deleteIds.select(id.as("id")))

  /** RETIREMENT-ONLY index maintenance as a MERGE-ON-READ commit
    * ([[Snapshot.deleteMorKeys]]): a wave of deleted documents leaves
    * the index WITHOUT rewriting a single cell file — the deletion
    * vector masks the retired vectors and every serve path (probed
    * cells are read dv-applied) stops returning them; the next
    * [[Snapshot.compact]] materializes. The erasure-request shape for
    * a 100-TB vector store: [[ivfIndexMerge]] rewrites each retired
    * doc's whole cell, this writes 16 bytes per retired vector. */
  def ivfIndexRetire(spark: SparkSession, table: String,
                     deleteIds: DataFrame, id: Column): Snapshot.CommitStats =
    Snapshot.deleteMorKeys(spark, table, deleteIds.select(id.as("id")))

  private def indexRows(corpus: DataFrame, id: Column, vec: Column,
                        centroids: Array[Array[Double]],
                        attrs: Seq[Column] = Nil): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    Scale.ensureParallelism(corpus.filter(vec.isNotNull))
      .select(Seq(id.as("id"), vec.as("vec"), l2Norm(vec).as("norm"),
        element_at(nearestCentroids(vec, centroids, 1), 1)
          .cast("string").as("cell")) ++ attrs: _*)
  }

  /**
   * Serve a query batch from the versioned index: assign each query
   * to its `nprobe` cells, read ONLY those cells' files through the
   * manifest ([[Snapshot.read]] — the probe set is ≤ nlist
   * values, driver-bounded), rescore exactly against the STORED
   * vectors/norms, rank per query with the bounded heap. Self-matches
   * kept, as [[ivfSearch]]. `version` pins a historical index state.
   */
  def ivfIndexSearch(spark: SparkSession, table: String, queries: DataFrame,
                     id: Column, vec: Column, k: Int = 10, nprobe: Int = 4,
                     centroids: Array[Array[Double]] = null,
                     version: Int = 0,
                     where: Column = null): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    require(centroids != null, "ivfIndexSearch needs the index's pinned codebook")
    val q = withNorm(queries, id, vec)
      .select(col("id").as("qid"), col("vec").as("qvec"),
        col("norm").as("qnorm"),
        explode(nearestCentroids(col("vec"), centroids, nprobe)).as("cellN"))
      .withColumn("cell", col("cellN").cast("string")).drop("cellN")
    val cells = q.select("cell").distinct()
      .collect().map(_.getString(0)).toSeq.sorted // bounded by nlist
    val raw =
      if (cells.isEmpty)
        Snapshot.readLatest(spark, table).limit(0)
      else Snapshot.read(spark, table, Seq(Snapshot.InPred("cell", cells)), version)
    // FILTERED serving: the predicate runs over the index's stored
    // attribute columns inside the probed-cell scan (pre-filter — the
    // exact restricted-corpus result, see [[ivfSearchWhere]]); with
    // manifest pruning it composes to "open only probed cells' files,
    // keep only matching rows, then rescore"
    val data = Option(where).map(raw.filter).getOrElse(raw)
    val cand = q.join(data, Seq("cell"))
      .select(col("qid"), col("id").as("neighbor_id"),
        when(col("qnorm") * col("norm") === 0.0, lit(0.0))
          .otherwise(dot(col("qvec"), col("vec")) /
            (col("qnorm") * col("norm"))).as("cos_sim"))
    rankCandidates(cand, k, "cos_sim", bigBetter = true)
  }

  private def ivfCore(queries: DataFrame, corpus: DataFrame,
                      id: Column, vec: Column, k: Int,
                      nlist: Int, nprobe: Int,
                      centroidsIn: Option[Array[Array[Double]]],
                      excludeSelf: Boolean): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    val centroids = centroidsIn.getOrElse {
      val lists = if (nlist > 0) nlist
        else math.max(16, math.ceil(math.sqrt(Scale.estimatedRows(corpus))).toInt)
      trainKmeans(corpus, id, vec, lists,
        trainSize = math.min(100000, math.max(10000, 32 * lists)))
    }
    val probes = if (nprobe > 0) nprobe else math.max(4, centroids.length / 8)
    val data = withNorm(corpus, id, vec).select(col("id"), col("vec"), col("norm"),
      element_at(nearestCentroids(col("vec"), centroids, 1), 1).as("cell"))
    val q = withNorm(queries, id, vec)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("norm").as("qnorm"),
        explode(nearestCentroids(col("vec"), centroids, probes)).as("cell"))
    val joined = q.join(data, Seq("cell"))
    val cand = (if (excludeSelf) joined.filter(col("qid") =!= col("id")) else joined)
      .select(col("qid"), col("id").as("neighbor_id"),
        when(col("qnorm") * col("norm") === 0.0, lit(0.0))
          .otherwise(dot(col("qvec"), col("vec")) /
            (col("qnorm") * col("norm"))).as("cos_sim"))
    rankCandidates(cand, k, "cos_sim", bigBetter = true)
  }

  /**
   * Train a PRODUCT-QUANTIZATION codebook: the unit-normalized
   * training sample is cut into `m` equal subspaces and an
   * independent [[lloyd]] k-means (ksub centroids) runs in each —
   * the classic PQ construction (Jégou et al., TPAMI'11). Returns
   * cb[m][ksub][dim/m]. Same train-once/serve-forever shape as the
   * IVF codebook ([[savePqCodebook]]/[[loadPqCodebook]]).
   */
  def trainPqCodebook(df: DataFrame, id: Column, vec: Column,
                      m: Int = 8, ksub: Int = 16,
                      trainSize: Int = 10000, iters: Int = 10): Array[Array[Array[Double]]] = {
    val sample = normalizedSample(df, id, vec, trainSize)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val k = math.min(ksub, sample.length)
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloyd(sub, k, iters)
    }
  }

  /** Persist / load a PQ codebook (CSV: `subspace,centroid,v0,v1,…`). */
  def savePqCodebook(path: String, cb: Array[Array[Array[Double]]]): Unit = {
    val sb = new StringBuilder
    for (s <- cb.indices; c <- cb(s).indices)
      sb.append(s).append(',').append(c).append(',')
        .append(cb(s)(c).mkString(",")).append('\n')
    LogStore.forPath(path).putReplace(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def loadPqCodebook(path: String): Array[Array[Array[Double]]] = {
    val rows = new String(LogStore.forPath(path).read(path),
      java.nio.charset.StandardCharsets.UTF_8).split('\n').filter(_.nonEmpty)
      .map { l =>
        val p = l.split(",")
        (p(0).toInt, p(1).toInt, p.drop(2).map(_.toDouble))
      }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }.toArray
  }

  /**
   * IVF-PQ ANN top-k — the composition that actually serves
   * billion-vector corpora: IVF cells bound the candidate set
   * (`nprobe` cells per query) and PRODUCT QUANTIZATION compresses
   * every candidate to an `m`-byte-scale code (8 ints here vs 256
   * bytes of floats — the index fits in memory at 100 TB where raw
   * vectors cannot). Scoring is ASYMMETRIC DISTANCE COMPUTATION: the
   * exact query vector against the candidate's quantized
   * reconstruction, `adc_dist = ‖q − decode(code)‖²` (on unit
   * vectors, cos ≈ 1 − adc/2, so ascending adc IS descending
   * cosine). Output: (id, neighbor_id, adc_dist, rank 1..k).
   *
   * Plan shape: both encode (corpus side) and probe (query side) are
   * scan-side native expressions; candidates are ONE hash shuffle
   * keyed by cell id; the shuffle payload is the 8-int code, never a
   * float vector. Codebooks are expression constants (no join, no
   * broadcast state). Approximation is two-layer (cell recall ×
   * quantization error) — rescore survivors with exact vectors
   * downstream when serving demands it.
   */
  def ivfPqTopK(df: DataFrame, id: Column, vec: Column, k: Int = 10,
                nprobe: Int = 4,
                cells: Array[Array[Double]],
                pq: Array[Array[Array[Double]]]): DataFrame = {
    import graft.functions.VectorExprs.{nearestCentroids, pqEncode, pqDecode, vecSqDist}
    val vd = vec.cast("array<double>")
    val ss = aggregate(vd, lit(0.0), (a, x) => a + x * x)
    // unit vector with the shared inv-multiply arithmetic (oracle
    // replicates: x * (1.0/sqrt(ss)))
    val uv = when(ss > 0.0, transform(vd, x => x * (lit(1.0) / sqrt(ss))))
      .otherwise(vd)
    val base = Scale.ensureParallelism(df)
      .select(id.as("id"), vd.as("v"), uv.as("uv"))
    val data = base.select(col("id"),
      pqEncode(col("uv"), pq).as("code"),
      element_at(nearestCentroids(col("v"), cells, 1), 1).as("cell"))
    val queries = base.select(col("id").as("qid"), col("uv").as("quv"),
      explode(nearestCentroids(col("v"), cells, nprobe)).as("cell"))
    val cand = queries.join(data, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("neighbor_id"),
        vecSqDist(col("quv"), pqDecode(col("code"), pq)).as("adc_dist"))
    rankCandidates(cand, k, "adc_dist", bigBetter = false)
  }

  /**
   * CROSS-frame cosine near-dup pairs: (id_a, id_b, cos_sim) with
   * cos_sim ≥ threshold, id_a from `dfA`, id_b from `dfB` — the
   * embedding-space form of decontamination (corpus vs benchmark) and
   * of delta-vs-corpus dedup. Brute force with a BROADCAST right side
   * (benchmarks/deltas are the small side by construction): one scan
   * of dfA, no shuffle. Use [[lshCrossPairs]] when both sides are
   * large. Self-matches (a doc present in both frames) are kept —
   * for decontamination the self-match IS the signal.
   */
  def cosineCrossPairs(dfA: DataFrame, idA: Column, vecA: Column,
                       dfB: DataFrame, idB: Column, vecB: Column,
                       threshold: Double = 0.95): DataFrame = {
    val a = withNorm(dfA, idA, vecA)
    val b = withNorm(dfB, idB, vecB)
      .select(col("id").as("bid"), col("vec").as("bvec"), col("norm").as("bnorm"))
    a.crossJoin(broadcast(b))
      .select(col("id").as("id_a"), col("bid").as("id_b"),
        when(col("norm") * col("bnorm") === 0.0, lit(0.0))
          .otherwise(dot(col("vec"), col("bvec")) /
            (col("norm") * col("bnorm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /**
   * INCREMENTAL embedding near-dup: every qualifying pair TOUCHING
   * the incoming batch — (corpus × batch) ∪ (batch × batch) — without
   * re-scoring the corpus' own pairs; the embedding member of the
   * incremental family beside `ngramJaccardIncremental` and
   * `duplicateClustersIncremental`. Ids normalize to `id_a < id_b`,
   * and dot products / norm products are bit-commutative, so the
   * output is EXACTLY the full pair set restricted to batch-touching
   * rows (the oracle). A re-delivered id supersedes its corpus copy.
   * Work is |corpus|·|batch| + |batch|² score evaluations, never the
   * corpus' own quadratic — the nightly re-embedding-delta shape.
   *
   * SIZE PRE-FLIGHT: the brute cross broadcasts the batch, which
   * stops being a plan (not just slow — undeployable) once the batch
   * outgrows executor memory. Past `maxBroadcastBytes` of
   * footer-estimated batch size the operator routes BOTH pair
   * families to banded LSH candidates with exact rescoring
   * ([[lshCrossPairs]] / [[lshDupPairs]] — same output contract on
   * qualifying pairs, the standard LSH miss probability on
   * just-above-threshold pairs). The brute path remains the
   * small-batch default and the oracle baseline, mirroring
   * [[Dedup.ngramJaccard]]'s routing. `maxBroadcastBytes <= 0`
   * disables routing.
   */
  def cosineDupPairsIncremental(corpus: DataFrame, incoming: DataFrame,
                                id: Column, vec: Column,
                                threshold: Double = 0.95,
                                maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame = {
    val corpusOnly = corpus.select(id.as("__id"), vec.as("__v"))
      .join(incoming.select(id.as("__id")), Seq("__id"), "left_anti")
    if (maxBroadcastBytes > 0 &&
        Scale.estimatedLeafBytes(incoming) > maxBroadcastBytes) {
      log.info(s"[graft] cosineDupPairsIncremental: est. batch bytes " +
        s"${Scale.estimatedLeafBytes(incoming)} > $maxBroadcastBytes — " +
        "batch outgrew broadcast, routing to banded LSH candidates " +
        "(lshCrossPairs/lshDupPairs, exact rescoring)")
      val cross = lshCrossPairs(corpusOnly, col("__id"), col("__v"),
          incoming, id, vec, threshold, bits = 0)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("cos_sim"))
      cross.unionByName(
        lshDupPairs(incoming, id, vec, threshold, bits = autoBits(incoming)))
    } else {
      val cross = cosineCrossPairs(corpusOnly, col("__id"), col("__v"),
          incoming, id, vec, threshold)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("cos_sim"))
      cross.unionByName(cosineDupPairs(incoming, id, vec, threshold))
    }
  }

  /** Footer-estimated incoming-batch size above which
    * [[cosineDupPairsIncremental]] abandons the broadcast brute cross
    * for banded LSH candidates — sized to the executor-memory regime
    * where a broadcast side stops being deployable (Spark's own
    * autoBroadcastJoinThreshold order of magnitude, ×~6 headroom
    * because the estimate is raw leaf bytes, not the hashed-relation
    * build size). */
  val DefaultMaxBroadcastBytes: Long = 64L << 20

  /**
   * Scale path for [[cosineCrossPairs]]: both sides LSH-bucketed with
   * the SAME hyperplanes (same seed → same buckets), candidates from
   * the (table, bucket) equi-join, exact rescoring — a hash shuffle,
   * never a cross join, when the benchmark side outgrows broadcast.
   */
  def lshCrossPairs(dfA: DataFrame, idA: Column, vecA: Column,
                    dfB: DataFrame, idB: Column, vecB: Column,
                    threshold: Double = 0.95, tables: Int = 8, bits: Int = 8,
                    seed: Int = 42): DataFrame = {
    // bits must resolve ONCE for both frames: per-side autoBits would
    // put a big corpus and a small benchmark in different bucket
    // spaces and the equi-join would match only hash coincidences.
    // Size from the larger side — the occupancy that matters.
    val b0 = if (bits > 0) bits else math.max(autoBits(dfA), autoBits(dfB))
    val a = bucketed(dfA, idA, vecA, tables, b0, seed).as("a")
    val b = bucketed(dfB, idB, vecB, tables, b0, seed).as("b")
    a.join(b, col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        when(col("a.norm") * col("b.norm") === 0.0, lit(0.0))
          .otherwise(dot(col("a.vec"), col("b.vec")) /
            (col("a.norm") * col("b.norm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /**
   * LSH near-dup pairs (scale path for [[cosineDupPairs]]):
   * same-bucket candidates, exact rescoring, threshold filter.
   */
  def lshDupPairs(df: DataFrame, id: Column, vec: Column,
                  threshold: Double = 0.95, tables: Int = 8, bits: Int = 8,
                  seed: Int = 42): DataFrame = {
    val b = bucketed(df, id, vec, tables, bits, seed)
    val a = b.as("a")
    val c = b.as("c")
    a.join(c, col("a.table") === col("c.table") &&
        col("a.bucket") === col("c.bucket") && col("a.id") < col("c.id"))
      .select(col("a.id").as("id_a"), col("c.id").as("id_b"),
        when(col("a.norm") * col("c.norm") === 0.0, lit(0.0))
          .otherwise(dot(col("a.vec"), col("c.vec")) /
            (col("a.norm") * col("c.norm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
  }

  /**
   * SemDeDup (Abbas et al. '23, arXiv:2303.09540): SEMANTIC
   * deduplication in embedding space — every vector is assigned to its
   * nearest codebook cell, cosine pairs are computed WITHIN a cell
   * only, and a document is dropped when a strictly-lower-id neighbor
   * in its cell sits at cosine ≥ `threshold` (lowest id is the
   * canonical survivor, the same deterministic keep rule as the text
   * dedup operators). Output: (id, cell, kept) for every input row.
   *
   * Scale: assignment is a scan-side projection (the codebook rides
   * inside the expression — train once with [[trainKmeans]], persist
   * with [[saveCentroids]]); the pairwise stage is an equi-join keyed
   * by cell, so candidate fan-out is bounded by cell size (~n/nlist
   * with a √n codebook), never O(n²). This is exactly the SemDeDup
   * paper's construction: k-means cells make the quadratic step local.
   */
  def semDedup(df: DataFrame, id: Column, vec: Column,
               centroids: Array[Array[Double]],
               threshold: Double = 0.95): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    // cached: referenced by both pair sides and the final projection —
    // without it the assignment kernel runs three times per row
    val v = OpCache.cache(withNorm(df, id, vec)
      .withColumn("cell", element_at(nearestCentroids(col("vec"), centroids, 1), 1)))
    val a = v.as("a")
    val b = v.as("b")
    val dropped = a.join(b, col("a.cell") === col("b.cell") && col("a.id") > col("b.id"))
      .select(col("a.id").as("id"),
        when(col("a.norm") * col("b.norm") === 0.0, lit(0.0))
          .otherwise(dot(col("a.vec"), col("b.vec")) /
            (col("a.norm") * col("b.norm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select("id").distinct()
    v.select(col("id"), col("cell"))
      .join(dropped.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        not(coalesce(col("__dup"), lit(false))).as("kept"))
  }

  /**
   * Per-group embedding CENTROIDS (cluster/label/language prototype
   * vectors — the aggregation behind IVF training, topic profiling
   * and per-source drift monitoring). Output: one row per (group,
   * pos) with the centroid component and the group size.
   *
   * Determinism at scale: double summation is order-dependent, and a
   * shuffled tree aggregation has no stable order — so components are
   * accumulated FIXED-POINT: floor(value·10^q) as a long (exact, and
   * long sums commute), divided back exactly at the end. The centroid
   * is quantized to 10^-q (default 10⁻⁷ — well below any embedding
   * model's noise floor) in exchange for bit-identical results on any
   * partitioning, any engine — same discipline as the decimal-cast
   * money aggregates. FLOOR (not cast) because engines disagree on
   * float→int rounding, not on floor.
   *
   * Scale: one explode keyed (group, pos) with map-side partial sums —
   * the shuffle carries (groups × dim × partitions) partials, never
   * the corpus.
   */
  def labelCentroids(df: DataFrame, label: Column, vec: Column,
                     quantDigits: Int = 7): DataFrame = {
    val q = math.pow(10.0, quantDigits)
    df.select(label.as("label"), posexplode(vec))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("col").cast("double") * q).cast("long")).as("__s"))
      .select(col("label"), col("pos"),
        (col("__s").cast("double") / col("n") / q).as("centroid"), col("n"))
  }

  /**
   * Symmetric INT8 scalar quantization of an embedding column — the
   * 4×-smaller vector STORE (the storage half of the vector pipeline;
   * `emb_quantize` reports the reconstruction error of exactly this
   * arithmetic). Per-vector scale = max|x|/127; q_i = round(x_i/scale)
   * clamped to [-127, 127], carried as `array<tinyint>`. Reconstruct
   * with q_i * q_scale. Null/empty vectors quantize to (0.0, []).
   * Scan-side projection — zero shuffle at any corpus size.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = coalesce(col(vecCol).cast("array<double>"),
      array().cast("array<double>"))
    df.select(col(idCol), v.as("__v"))
      .withColumn("q_scale",
        aggregate(transform(col("__v"), x => abs(x)), lit(0.0),
          (acc, x) => greatest(acc, x)) / lit(127.0))
      .select(col(idCol), col("q_scale"),
        when(col("q_scale") === 0.0,
            transform(col("__v"), _ => lit(0)).cast("array<tinyint>"))
          .otherwise(transform(col("__v"), x =>
            least(greatest(round(x / col("q_scale")), lit(-127.0)), lit(127.0)))
            .cast("array<tinyint>")).as("q"))
  }
}
