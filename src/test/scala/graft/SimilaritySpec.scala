package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 1
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f))). // opposite of 1
    toDF("vec_id", "embedding")

  private def cosRef(a: Array[Float], b: Array[Float]): Double = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
      math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
  }

  test("cosineDupPairs matches reference arithmetic exactly") {
    val out = Similarity.cosineDupPairs(vecs, col("vec_id"), col("embedding"), threshold = 0.9)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
    assert(out.length === 1)
    val (a, b, sim) = out.head
    assert((a, b) === (1L, 2L))
    assert(sim === cosRef(Array(1.0f, 0, 0), Array(0.9f, 0.1f, 0)))
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val out = Similarity.bruteForceTopK(vecs, vecs, col("vec_id"), col("embedding"), k = 3)
      .filter(col("id") === 1L).orderBy("rank")
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out === Seq((2L, 1), (3L, 2), (4L, 3))) // 0.99.. > 0.0 > -1.0
  }

  test("semDedup: higher id dropped within a cell, orthogonal cellmates kept") {
    // two orthogonal cells: vecs 1,2 land in cell 0 (cos ≈ 0.994 →
    // dup, higher id 2 dropped); 3,4 land in cell 1 but are
    // orthogonal/opposite → both kept
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val out = Similarity.semDedup(vecs, col("vec_id"), col("embedding"),
        cents, threshold = 0.9)
      .orderBy("id").as[(Long, Int, Boolean)].collect().toSeq
    assert(out === Seq((1L, 0, true), (2L, 0, false), (3L, 1, true), (4L, 1, true)))
  }

  /** Real embeddings + a planted near-duplicate (1% perturbation) of
    * every 10th vector — ids offset by 100000. cos(orig, dup) ≈ 0.9999:
    * the regime LSH near-dup detection is FOR. */
  private def withPlantedDups = {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dups = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * 0.99 + 0.001).cast("float")).as("embedding"))
    e.unionAll(dups)
  }

  test("LSH topk finds the planted near-dup as a top neighbor") {
    val e = withPlantedDups
    val out = Similarity.lshTopK(e, col("vec_id"), col("embedding"),
        k = 3, tables = 8, bits = 8)
      .filter(col("id") >= 100000L && col("rank") === 1)
      .select("id", "neighbor_id").as[(Long, Long)].collect()
    val hit = out.count { case (dup, nb) => nb === dup - 100000L }
    val recall = hit.toDouble / out.length
    info(f"planted-dup recall@1 = $recall%.3f over ${out.length} dups")
    assert(out.length === 50)
    assert(recall >= 0.95, f"recall $recall%.3f below 0.95")
  }

  test("IVF topk: planted dups land in the same cell; good weak-pair recall") {
    // auto defaults throughout: nlist = max(16, ⌈√n⌉), nprobe = max(4, nlist/8)
    val e = withPlantedDups
    val out = Similarity.ivfTopK(e, col("vec_id"), col("embedding"), k = 3)
      .filter(col("id") >= 100000L && col("rank") === 1)
      .select("id", "neighbor_id").as[(Long, Long)].collect()
    val hit = out.count { case (dup, nb) => nb === dup - 100000L }
    assert(out.length === 50)
    assert(hit.toDouble / out.length >= 0.95)

    // recall@5 vs brute force on the raw corpus
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(base, base, col("vec_id"), col("embedding"), k = 5)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(base, col("vec_id"), col("embedding"), k = 5)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    info(f"IVF recall@5 = $recall%.3f (auto nlist/nprobe, spherical cells)")
    assert(recall >= 0.5)
  }

  test("cosineDupPairsIncremental size pre-flight: oversized batch routes to banded LSH, same planted pairs") {
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // batch = perturbed re-embeddings of every 10th vector under NEW
    // ids (+100000): each batch vector's planted match is its source
    // at cos ≈ 1 — the regime an LSH route must not miss
    val batch = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * 0.99 + 0.001).cast("float")).as("embedding"))
    val brute = Similarity.cosineDupPairsIncremental(base, batch,
        col("vec_id"), col("embedding"), threshold = 0.99,
        maxBroadcastBytes = 0) // routing disabled: the oracle baseline
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    // force the route (1-byte bound plays "batch outgrew broadcast")
    val routed = Similarity.cosineDupPairsIncremental(base, batch,
        col("vec_id"), col("embedding"), threshold = 0.99,
        maxBroadcastBytes = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(routed === brute,
      s"missed: ${brute.diff(routed).take(5)}, extra: ${routed.diff(brute).take(5)}")
    // and the routed plan really abandoned the nested-loop broadcast
    val plan = Similarity.cosineDupPairsIncremental(base, batch,
        col("vec_id"), col("embedding"), threshold = 0.99,
        maxBroadcastBytes = 1).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "routed path must not plan a broadcast nested-loop join")
  }

  test("lshCrossPairs recalls cross-frame planted dups found by the exact baseline") {
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // benchmark = perturbed copies of every 10th vector (ids + 100000)
    val bench = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * 0.99 + 0.001).cast("float")).as("embedding"))
    val exact = Similarity.cosineCrossPairs(base, col("vec_id"), col("embedding"),
        bench, col("vec_id"), col("embedding"), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val lsh = Similarity.lshCrossPairs(base, col("vec_id"), col("embedding"),
        bench, col("vec_id"), col("embedding"), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    info(f"cross-pair recall = $recall%.3f over ${exact.size} exact pairs")
    assert(recall >= 0.95)
    // lsh emits no pair the exact baseline rejects (scores are exact)
    assert(lsh.subsetOf(exact) || lsh.diff(exact).isEmpty)
  }

  test("IVF-PQ: planted near-dups retrieved through cells + ADC; codebook shape") {
    val e = withPlantedDups
    val cells = Similarity.trainKmeans(e, col("vec_id"), col("embedding"), nlist = 16)
    val pq = Similarity.trainPqCodebook(e, col("vec_id"), col("embedding"),
      m = 8, ksub = 16)
    assert(pq.length === 8 && pq.forall(_.forall(_.length === 8)))
    // a planted dup (cos ≈ 1, so adc ≈ 0) must surface in its
    // original's ADC top-5 — both quantization layers have to
    // cooperate for that (same cell + near-identical codes)
    val approx = Similarity.ivfPqTopK(e, col("vec_id"), col("embedding"), k = 5,
        nprobe = 4, cells = cells, pq = pq)
      .filter(col("id") >= 100000L)
      .select("id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = approx.count { case (dup, nbs) => nbs.contains(dup - 100000L) }
    val recall = hits.toDouble / 50
    info(f"IVF-PQ planted-dup recall@5 = $recall%.3f over 50 dups")
    assert(recall >= 0.9, f"recall $recall%.3f below 0.9")
    // unstructured-data sanity: ADC@5 still finds a third of exact
    // NNs on near-random vectors (quantization loss is the expected
    // trade for 32x payload compression; structured corpora fare far
    // better) — guard only against catastrophic regression
    val exact = Similarity.bruteForceTopK(e, e, col("vec_id"), col("embedding"), k = 1)
      .select("id", "neighbor_id").as[(Long, Long)].collect().toMap
    val all = Similarity.ivfPqTopK(e, col("vec_id"), col("embedding"), k = 5,
        nprobe = 4, cells = cells, pq = pq)
      .select("id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nnRecall = exact.count { case (q, nn) =>
      all.getOrElse(q, Set.empty).contains(nn) }.toDouble / exact.size
    info(f"IVF-PQ recall@5 (exact NN, random data) = $nnRecall%.3f")
    assert(nnRecall >= 0.2)
    graft.operators.OpCache.releaseAll()
  }

  test("PQ codebook round-trips through save/load; adc ranks by quantized distance") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val pq = Similarity.trainPqCodebook(e, col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempFile("graft_pq", ".csv").toString
    Similarity.savePqCodebook(path, pq)
    val loaded = Similarity.loadPqCodebook(path)
    assert(loaded.length === pq.length)
    loaded.zip(pq).foreach { case (ls, ps) =>
      assert(ls.length === ps.length)
      ls.zip(ps).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    }
    // identical input vectors quantize to identical codes → adc 0 to itself
    val cb = loaded
    import graft.functions.VectorExprs.{pqEncode, pqDecode, vecSqDist}
    val one = e.limit(1).select(col("embedding").cast("array<double>").as("v"))
    val self = one.select(
      vecSqDist(col("v"), pqDecode(pqEncode(col("v"), cb), cb)).as("d")).first().getDouble(0)
    // quantization error to own reconstruction is small but nonzero;
    // decode(encode(x)) must at least be a valid 64-dim vector
    assert(self >= 0.0 && !self.isNaN)
  }

  test("IVF codebook round-trips through save/load; centroidsIn reuse matches fresh training") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val cb = Similarity.trainKmeans(e, col("vec_id"), col("embedding"), nlist = 32)
    val path = java.nio.file.Files.createTempFile("graft_cb", ".csv").toString
    Similarity.saveCentroids(path, cb)
    val loaded = Similarity.loadCentroids(path)
    assert(loaded.length === cb.length)
    loaded.zip(cb).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // steady-state path: a persisted codebook gives the same result as
    // fresh training (training is deterministic), with zero train cost
    val fresh = Similarity.ivfTopK(e, col("vec_id"), col("embedding"), k = 5, nlist = 32)
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val reused = Similarity.ivfTopK(e, col("vec_id"), col("embedding"), k = 5,
        centroidsIn = Some(loaded))
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(reused === fresh)
  }

  test("autoBits: occupancy-driven sizing grows with the frame, auto path recalls dups") {
    val small = spark.range(100).select(col("id").as("vec_id"),
      array(rand(1).cast("float"), rand(2).cast("float")).as("embedding"))
    val big = spark.range(1000000).select(col("id").as("vec_id"),
      array(rand(1).cast("float"), rand(2).cast("float")).as("embedding"))
    val bSmall = Similarity.autoBits(small)
    val bBig = Similarity.autoBits(big)
    assert(bSmall === 4)                       // floor: 100/32 -> 2 bits, clamped
    assert(bBig === 15)                        // ceil(log2(1e6/32))
    assert(bBig > bSmall)
    // the auto-sized path still finds the planted near-dup pair
    val planted = vecs
    val out = Similarity.lshTopK(planted, col("vec_id"), col("embedding"),
        k = 1, bits = 0)
      .filter(col("id") === 1L).select("neighbor_id").as[Long].collect()
    assert(out.toSeq === Seq(2L))
  }

  test("lshDupPairs recalls planted dups; moderate recall on weak pairs") {
    val e = withPlantedDups
    val planted = Similarity.lshDupPairs(e, col("vec_id"), col("embedding"),
        threshold = 0.99, tables = 8, bits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 500 by 10).map(i => (i.toLong, i + 100000L)).toSet
    val recall = expected.intersect(planted).size.toDouble / expected.size
    info(f"planted dup-pair recall = $recall%.3f")
    assert(recall >= 0.95)

    // weak pairs (cos ~0.45-0.51) sit far from the LSH operating point;
    // document the floor rather than pretending brute-force recall
    val base = spark.read.parquet(sf() + "/embeddings.parquet")
    val exact = Similarity.cosineDupPairs(base, col("vec_id"), col("embedding"), threshold = 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshDupPairs(base, col("vec_id"), col("embedding"),
        threshold = 0.45, tables = 12, bits = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val weakRecall = exact.intersect(lsh).size.toDouble / exact.size
    info(f"weak-pair recall = $weakRecall%.3f (expected moderate)")
    assert(weakRecall >= 0.4)
  }

  test("versioned vector index: parity with ivfSearch, manifest-pruned probes, time-travelable refresh") {
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx").toString
    val table = s"$dir/idx"
    // 120 vectors in 3 tight direction clusters + noise dims, so the
    // 8-anchor codebook yields well-separated cells
    val rnd = new scala.util.Random(7)
    val rows = (1L to 120L).map { i =>
      val base = (i % 3).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == base) 10f else 0f) + rnd.nextFloat() * 0.5f)
      (i, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val cb = corpus.orderBy("vec_id").limit(8).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    Similarity.ivfIndexCreate(spark, table, corpus,
      col("vec_id"), col("embedding"), cb)

    val queries = corpus.filter(col("vec_id") % 10 === 1)
    def searched(version: Int = 0): Set[(Long, Long, Int)] =
      Similarity.ivfIndexSearch(spark, table, queries, col("vec_id"),
        col("embedding"), k = 5, nprobe = 2, centroids = cb, version = version)
        .select("id", "neighbor_id", "rank").as[(Long, Long, Int)]
        .collect().toSet
    def reference(c: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      Similarity.ivfSearch(queries, c, col("vec_id"), col("embedding"),
        k = 5, nprobe = 2, centroidsIn = Some(cb))
        .select("id", "neighbor_id", "rank").as[(Long, Long, Int)]
        .collect().toSet
    assert(searched() == reference(corpus), "index serve must equal in-memory ivfSearch")

    // probes are a manifest-pruned read: the query batch probes a
    // strict subset of cells, so a strict subset of files is opened
    val m1 = Snapshot.readManifest(table, 1)
    val probedCells = m1.partitions.keySet.toSeq.sorted
    val (keptAll, total) = Snapshot.prune(table, Seq(Snapshot.InPred("cell", probedCells)))
    assert(keptAll.size == total) // sanity: all cells = all files
    val (kept2, _) = Snapshot.prune(table, Seq(Snapshot.InPred("cell", probedCells.take(2))))
    assert(kept2.nonEmpty && kept2.size < total,
      s"2-cell probe kept ${kept2.size} of $total files")

    // v2 refresh: re-embed ids 1..30 into a DIFFERENT direction
    // (cell move) and retire ids 100..120
    val refreshed = rows.filter(_._1 <= 30)
      .map { case (i, v) => (i, v.reverse) }.toDF("vec_id", "embedding")
    Similarity.ivfIndexMerge(spark, table, refreshed,
      col("vec_id"), col("embedding"), cb,
      corpus.filter(col("vec_id") > 100).select("vec_id"))
    val after = rows.filter(_._1 <= 100)
      .map { case (i, v) => (i, if (i <= 30) v.reverse else v) }
      .toDF("vec_id", "embedding")
    assert(searched() == reference(after), "refreshed index must serve the new corpus")
    assert(searched(version = 1) == reference(corpus),
      "version-pinned serve must reproduce the pre-refresh index")

    // v3: RETIREMENT-ONLY wave as a merge-on-read commit — ids 80..100
    // leave the index with ZERO cell files rewritten (deletion vector
    // only); serve parity with a physically-rebuilt reference, and the
    // pre-retire version still serves
    val preFiles = Snapshot.readManifest(table, 2).files.map(_.path).toSet
    val st = Snapshot.deleteMorKeys(spark, table,
      corpus.filter(col("vec_id") > 80).select(col("vec_id").as("id")))
    assert(st.filesWritten == 0)
    assert(Snapshot.readManifest(table, st.version).files.map(_.path).toSet
      == preFiles, "retirement must not add or rewrite a single file")
    val afterRetire = rows.filter(_._1 <= 80)
      .map { case (i, v) => (i, if (i <= 30) v.reverse else v) }
      .toDF("vec_id", "embedding")
    assert(searched() == reference(afterRetire),
      "retired vectors must vanish from every probe")
    assert(searched(version = 2) == reference(after),
      "the pre-retire version must still serve them")
  }

  test("filtered ANN: pre-filter equals restricted-corpus search; index attrs filter inside the probed scan") {
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_vecflt").toString
    val table = s"$dir/idx"
    val rnd = new scala.util.Random(11)
    val rows = (1L to 120L).map { i =>
      val base = (i % 3).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == base) 10f else 0f) + rnd.nextFloat() * 0.5f)
      (i, v, if (i % 2 == 0) "en" else "de")
    }
    val corpus = rows.toDF("vec_id", "embedding", "lang")
    val cb = corpus.orderBy("vec_id").limit(8).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val queries = corpus.filter(col("vec_id") % 10 === 1)
    // in-memory: pre-filter IS the restricted-corpus search, exactly
    val filtered = Similarity.ivfSearchWhere(queries, corpus,
        col("vec_id"), col("embedding"), col("lang") === "en",
        k = 5, nprobe = 2, centroidsIn = Some(cb))
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val restricted = Similarity.ivfSearch(queries,
        corpus.filter(col("lang") === "en"),
        col("vec_id"), col("embedding"), k = 5, nprobe = 2,
        centroidsIn = Some(cb))
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(filtered == restricted)
    assert(filtered.forall { case (_, n, _) => n % 2 == 0 },
      "only lang=en (even) neighbors may rank")
    // versioned index with a stored attribute column: the predicate
    // evaluates inside the probed-cell read — same result, no side join
    Similarity.ivfIndexCreate(spark, table, corpus,
      col("vec_id"), col("embedding"), cb, attrs = Seq(col("lang")))
    assert(Snapshot.readLatest(spark, table).columns.contains("lang"))
    val served = Similarity.ivfIndexSearch(spark, table, queries,
        col("vec_id"), col("embedding"), k = 5, nprobe = 2, centroids = cb,
        where = col("lang") === "en")
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(served == restricted, "filtered index serve must equal the restricted search")
    // a refresh carries attrs too; the filter keeps working at the tip
    Similarity.ivfIndexMerge(spark, table,
      rows.filter(_._1 <= 10).map { case (i, v, l) => (i, v.reverse, l) }
        .toDF("vec_id", "embedding", "lang"),
      col("vec_id"), col("embedding"), cb,
      corpus.limit(0).select("vec_id"), attrs = Seq(col("lang")))
    val after = rows.map { case (i, v, l) =>
      (i, if (i <= 10) v.reverse else v, l) }.toDF("vec_id", "embedding", "lang")
    val servedV2 = Similarity.ivfIndexSearch(spark, table, queries,
        col("vec_id"), col("embedding"), k = 5, nprobe = 2, centroids = cb,
        where = col("lang") === "en")
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val refV2 = Similarity.ivfSearch(queries,
        after.filter(col("lang") === "en"),
        col("vec_id"), col("embedding"), k = 5, nprobe = 2,
        centroidsIn = Some(cb))
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(servedV2 == refV2)
  }
}
