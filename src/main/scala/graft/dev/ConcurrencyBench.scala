package graft.dev

import graft.operators.{LogStore, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

/**
 * MULTI-WRITER evidence for the optimistic commit protocol — the r15
 * ask: staged commits have correctness specs (stageMerge/commitStaged
 * conflict matrix, ConditionalStoreSpec's race rounds) but no measured
 * throughput. N writer threads commit DISJOINT partitions/keys against
 * ONE table via the optimistic path (stage WITHOUT the lock →
 * commit-with-rebase under it — the design claim is that disjoint
 * writers serialize on milliseconds, not on each other's shuffles),
 * at 1 / 4 / 16 writers × {inline, seg} manifests.
 *
 * Per row: total commits landed, wall, commits/s, LOCK retries (a
 * commit attempt finding the lock held — the milliseconds-level
 * serialization), CONFLICT aborts (should be ZERO for disjoint
 * writers: any nonzero is a protocol bug this bench exists to flush
 * out), REBASED commits (landed atop a version newer than their
 * stage's read version) and the mean stage / publish walls — publish
 * split rebased vs clean, so the rebase overhead (two manifest reads
 * + the key-overlap probe over intervening files) is priced
 * explicitly.
 *
 * Emits one JSON line per row to `concurrencybench_out.json`
 * (override with SPARK_GRAFT_CONCBENCH_OUT).
 */
object ConcurrencyBench {

  private def rm(p: String): Unit = LogStore.forPath(p).deleteTree(p)

  private final case class RowStats(
      writers: Int, mode: String, commits: Int, wallS: Double,
      lockRetries: Int, conflicts: Int, rebased: Int,
      stageMeanS: Double, publishCleanMeanS: Double,
      publishRebasedMeanS: Double)

  private def run(spark: SparkSession, writers: Int, mode: String,
                  commitsPerWriter: Int): RowStats = {
    sys.props("graft.manifest.segmentThreshold") =
      if (mode == "seg") "4" else Int.MaxValue.toString
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_concbench_${mode}_$writers"
    rm(t)
    // seed: one partition per writer (disjoint ownership) + padding
    // partitions so the segmented manifest has carry-forward mass
    val seed = spark.range(0, 64).select(
      (col("id") * 1000000L).as("k"),
      concat(lit("w"), col("id") % 32).as("part"),
      lit("seed").as("payload"))
    Snapshot.create(spark, t, seed, "k", "part", statsCols = Seq("k"))

    val lockRetries = new AtomicInteger
    val conflicts = new AtomicInteger
    val rebased = new AtomicInteger
    val landed = new AtomicInteger
    val stageNs = new LongAdder
    val stageN = new AtomicInteger
    val pubCleanNs = new LongAdder
    val pubCleanN = new AtomicInteger
    val pubRebasedNs = new LongAdder
    val pubRebasedN = new AtomicInteger
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()

    def writerLoop(w: Int): Unit = try {
      var i = 0
      while (i < commitsPerWriter && failure.get() == null) {
        i += 1
        // writer-owned partition + globally unique keys: disjoint by
        // construction, the shape the optimistic path is FOR
        val ups = spark.range(0, 50).select(
          (lit(w.toLong * 1000000000L + i.toLong * 1000L) + col("id")).as("k"),
          lit(s"w$w").as("part"),
          lit(s"c$i").as("payload"))
        val dels = spark.range(0, 0).selectExpr("id as k")
        var done = false
        while (!done && failure.get() == null) {
          val t0 = System.nanoTime()
          val staged = Snapshot.stageMerge(spark, t, ups, dels)
          stageNs.add(System.nanoTime() - t0)
          stageN.incrementAndGet()
          try {
            var published = false
            while (!published) {
              val t1 = System.nanoTime()
              try {
                val st = Snapshot.commitStaged(spark, staged)
                val dt = System.nanoTime() - t1
                if (st.version > staged.readVersion + 1) {
                  rebased.incrementAndGet()
                  pubRebasedNs.add(dt); pubRebasedN.incrementAndGet()
                } else {
                  pubCleanNs.add(dt); pubCleanN.incrementAndGet()
                }
                landed.incrementAndGet()
                published = true
                done = true
              } catch {
                case _: Snapshot.ConcurrentCommitException =>
                  lockRetries.incrementAndGet()
                  Thread.sleep(5)
              }
            }
          } catch {
            case _: Snapshot.CommitConflictException =>
              // should never happen for disjoint writers — counted,
              // re-staged, and reported loudly in the row
              conflicts.incrementAndGet()
              staged.abort()
          }
        }
      }
    } catch { case e: Throwable => failure.compareAndSet(null, e) }

    val threads = (0 until writers).map(w =>
      new Thread(() => writerLoop(w), s"writer-$w"))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Option(failure.get()).foreach(e => throw new IllegalStateException(
      s"concurrency bench writer failed ($mode x$writers)", e))

    // post-conditions: every commit landed exactly once and the table
    // holds every writer's rows — a lost update would surface here
    val m = Snapshot.readManifest(t, Snapshot.currentVersion(t))
    require(m.version == 1 + landed.get(),
      s"version ${m.version} != 1 + ${landed.get()} commits")
    val expect = 64L + writers.toLong * commitsPerWriter * 50L
    val got = Snapshot.readLatest(spark, t).count()
    require(got == expect, s"rows $got != expected $expect (lost update?)")
    rm(t)

    def mean(ns: LongAdder, n: AtomicInteger): Double =
      if (n.get() == 0) 0.0 else ns.sum() / 1e9 / n.get()
    RowStats(writers, mode, landed.get(), wall, lockRetries.get(),
      conflicts.get(), rebased.get(), mean(stageNs, stageN),
      mean(pubCleanNs, pubCleanN), mean(pubRebasedNs, pubRebasedN))
  }

  /**
   * CONFLICT-HEAVY regime (r15 VERDICT ask #5): N writers over
   * OVERLAPPING keys — every landed commit upserts the SAME 50 keys,
   * so every concurrently-staged pair is a TRUE conflict the protocol
   * must detect (never lose). Two shapes: `hotpart` — all writers
   * target one partition, the partition-overlap check fires; `hotkey`
   * — each writer moves the shared keys into its OWN partition, so
   * detection rides the delivery-bounds walk + key-overlap probe.
   * The LOST-UPDATE oracle: each landed commit records its version →
   * payload; after the storm every shared key must hold the payload
   * of the HIGHEST landed version (optimistic merge is
   * last-writer-wins by version) — any older payload is a lost
   * update. Reported: aborts (true conflicts), retries-to-land
   * economics, throughput vs the disjoint rows.
   */
  private def runConflict(spark: SparkSession, writers: Int, shape: String,
                          commitsPerWriter: Int): String = {
    sys.props("graft.manifest.segmentThreshold") = Int.MaxValue.toString
    val t = s"${System.getProperty("java.io.tmpdir")}/graft_concbench_${shape}_$writers"
    rm(t)
    val seed = spark.range(0, 50).select(col("id").as("k"),
      lit("seed").as("part"), lit("v0").as("payload"))
    Snapshot.create(spark, t, seed, "k", "part", statsCols = Seq("k"))

    val lockRetries = new AtomicInteger
    val conflicts = new AtomicInteger
    val landed = new AtomicInteger
    val restages = new AtomicInteger
    val versionPayload =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()

    def writerLoop(w: Int): Unit = try {
      var i = 0
      while (i < commitsPerWriter && failure.get() == null) {
        i += 1
        val payload = s"w${w}c$i"
        val part = if (shape == "hotpart") "hot" else s"w$w"
        val ups = spark.range(0, 50).select(col("id").as("k"),
          lit(part).as("part"), lit(payload).as("payload"))
        val dels = spark.range(0, 0).selectExpr("id as k")
        var done = false
        while (!done && failure.get() == null) {
          val staged = Snapshot.stageMerge(spark, t, ups, dels)
          try {
            var published = false
            while (!published && failure.get() == null) {
              try {
                val st = Snapshot.commitStaged(spark, staged)
                versionPayload.put(st.version, payload)
                landed.incrementAndGet()
                published = true
                done = true
              } catch {
                case _: Snapshot.ConcurrentCommitException =>
                  lockRetries.incrementAndGet()
                  Thread.sleep(5)
              }
            }
          } catch {
            case _: Snapshot.CommitConflictException =>
              // a TRUE conflict: an intervening commit delivered the
              // same keys/partition — abort and re-stage against the
              // new tip (the abort/retry economics this row prices)
              conflicts.incrementAndGet()
              restages.incrementAndGet()
              staged.abort()
          }
        }
      }
    } catch { case e: Throwable => failure.compareAndSet(null, e) }

    val threads = (0 until writers).map(w =>
      new Thread(() => writerLoop(w), s"conflict-$w"))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Option(failure.get()).foreach(e => throw new IllegalStateException(
      s"conflict bench writer failed ($shape x$writers)", e))

    // post-conditions: every landed commit is a distinct version, and
    // every shared key holds the HIGHEST landed version's payload —
    // an older payload anywhere is a lost update
    require(versionPayload.size() == landed.get(),
      s"landed ${landed.get()} but recorded ${versionPayload.size()} versions")
    val m = Snapshot.readManifest(t, Snapshot.currentVersion(t))
    require(m.version == 1 + landed.get(),
      s"version ${m.version} != 1 + ${landed.get()} commits")
    val wantPayload = versionPayload.get(
      scala.jdk.CollectionConverters.SetHasAsScala(
        versionPayload.keySet()).asScala.map(_.intValue).max)
    val rows = Snapshot.readLatest(spark, t)
      .select("k", "payload").collect()
    require(rows.length == 50, s"rows ${rows.length} != 50 shared keys")
    val stale = rows.filterNot(_.getString(1) == wantPayload)
    require(stale.isEmpty,
      s"LOST UPDATE: ${stale.length} key(s) hold a stale payload " +
        s"(want $wantPayload, got ${stale.take(3).mkString(",")})")
    // writers racing the same keys MUST have produced detected
    // conflicts — a zero here means the regime didn't exercise the
    // paths this row exists to certify
    if (writers > 1) require(conflicts.get() > 0,
      s"$shape x$writers: no conflicts detected — regime not exercised")
    rm(t)
    f"""{"axis":"conflict","shape":"$shape","writers":$writers,""" +
      f""""commits":${landed.get()},"wall_s":$wall%.3f,""" +
      f""""commits_per_s":${landed.get() / wall}%.3f,""" +
      f""""conflicts":${conflicts.get()},"restages":${restages.get()},""" +
      f""""lock_retries":${lockRetries.get()},""" +
      f""""retries_per_commit":${restages.get().toDouble / landed.get()}%.2f}"""
  }

  /**
   * REBASE-DEPTH axis (r15 VERDICT ask #4): stage once, publish after
   * N intervening commits, under a simulated-RTT metadata store
   * ([[RttLogStore]] on `file:` paths — every commit-log call pays
   * `rttMs`, data files ride the native FS). Two publishes per depth:
   * COLD (delivery-bounds memo cleared — a fresh-JVM publisher pays
   * one root stream-parse per intervening version, the pre-r16
   * behavior at every publish) and WARM (the memo populated by the
   * intervening writers' own commits — the walk is pure map hits).
   * The row the ask wants: publish-rebased FLAT in N when warm, and
   * even cold it is paid once per (version, JVM), not per publish.
   */
  private def runDepth(spark: SparkSession, depth: Int, rttMs: Long): String = {
    sys.props("graft.manifest.segmentThreshold") = Int.MaxValue.toString
    sys.props("graft.dev.rttMs") = rttMs.toString
    spark.conf.set("spark.graft.logstore.file", "graft.dev.RttLogStore")
    val bare = s"${System.getProperty("java.io.tmpdir")}/graft_concbench_depth_$depth"
    LogStore.forPath(bare).deleteTree(bare)
    val t = s"file:$bare"
    try {
      val seed = spark.range(0, 64).select(
        (col("id") * 1000000L).as("k"),
        concat(lit("w"), col("id") % 32).as("part"),
        lit("seed").as("payload"))
      Snapshot.create(spark, t, seed, "k", "part", statsCols = Seq("k"))
      // two stages up front (disjoint partitions/keys): one publishes
      // cold, one warm — both rebase over the same N intervening
      def stageFor(w: Int) = Snapshot.stageMerge(spark, t,
        spark.range(0, 50).select(
          (lit(w.toLong * 1000000000L) + col("id")).as("k"),
          lit(s"stage$w").as("part"), lit("staged").as("payload")),
        spark.range(0, 0).selectExpr("id as k"))
      val sCold = stageFor(101)
      val sWarm = stageFor(102)
      (1 to depth).foreach { i =>
        Snapshot.merge(spark, t,
          spark.range(0, 20).select(
            (lit(200000000000L + i.toLong * 1000L) + col("id")).as("k"),
            lit(s"iv${i % 8}").as("part"), lit(s"iv$i").as("payload")),
          spark.range(0, 0).selectExpr("id as k"), op = "merge")
      }
      Snapshot.clearDeliveryMemo()
      val t1 = System.nanoTime()
      val stC = Snapshot.commitStaged(spark, sCold)
      val coldS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val stW = Snapshot.commitStaged(spark, sWarm)
      val warmS = (System.nanoTime() - t2) / 1e9
      require(stC.version == 2 + depth && stW.version == 3 + depth,
        s"depth axis landed at v${stC.version}/v${stW.version}, want " +
          s"${2 + depth}/${3 + depth}")
      val got = Snapshot.readLatest(spark, t).count()
      require(got == 64L + 100L + depth.toLong * 20L,
        s"depth $depth: rows $got")
      f"""{"axis":"depth","depth":$depth,"rtt_ms":$rttMs,""" +
        f""""publish_cold_s":$coldS%.4f,"publish_warm_s":$warmS%.4f}"""
    } finally {
      spark.conf.unset("spark.graft.logstore.file")
      sys.props -= "graft.dev.rttMs"
      LogStore.forPath(bare).deleteTree(bare)
    }
  }

  def main(args: Array[String]): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_CONCBENCH_OUT",
      "concurrencybench_out.json")
    val commitsPerWriter =
      sys.env.getOrElse("SPARK_GRAFT_CONCBENCH_COMMITS", "6").toInt
    val rttMs = sys.env.getOrElse("SPARK_GRAFT_CONCBENCH_RTT_MS", "2").toLong
    val spark = graft.GraftSession.local("graft-concurrency-bench",
      extra = Map("spark.sql.shuffle.partitions" -> "8"))
    spark.sparkContext.setLogLevel("ERROR")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for (mode <- Seq("inline", "seg"); writers <- Seq(1, 4, 16)) {
      val r = run(spark, writers, mode, commitsPerWriter)
      val line =
        f"""{"writers":${r.writers},"mode":"${r.mode}","commits":${r.commits},""" +
          f""""wall_s":${r.wallS}%.3f,"commits_per_s":${r.commits / r.wallS}%.3f,""" +
          f""""lock_retries":${r.lockRetries},"conflicts":${r.conflicts},""" +
          f""""rebased":${r.rebased},"stage_mean_s":${r.stageMeanS}%.4f,""" +
          f""""publish_clean_mean_s":${r.publishCleanMeanS}%.4f,""" +
          f""""publish_rebased_mean_s":${r.publishRebasedMeanS}%.4f}"""
      println(line)
      lines += line
    }
    for (shape <- Seq("hotpart", "hotkey"); writers <- Seq(4, 16)) {
      val line = runConflict(spark, writers, shape,
        math.max(2, commitsPerWriter / 2))
      println(line)
      lines += line
    }
    for (depth <- Seq(0, 24, 96)) {
      val line = runDepth(spark, depth, rttMs)
      println(line)
      lines += line
    }
    sys.props -= "graft.manifest.segmentThreshold"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
