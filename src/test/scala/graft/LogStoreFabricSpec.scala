package graft

import graft.meta.Schedule
import graft.operators.{HadoopLogStore, IncrementalAgg, LocalLogStore, LogStore, Merge}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

/**
 * The LEGACY stateful operators on the [[LogStore]] fabric: the
 * partition-swap merge sink, the incremental-aggregate staging swap +
 * batch ledger, the scheduler's completion/retry state + run lock,
 * and the streaming label store all ride `LogStore.forPath` now, so
 * `saveMode: merge` / `agg_maintain` sinks and scheduled pipelines
 * run on scheme-qualified stores exactly like the snapshot format
 * does. Every test here drives a `file://` URI end-to-end through
 * [[HadoopLogStore]] — the same fabric-proof pattern LogStoreSpec
 * uses for the commit protocol.
 */
class LogStoreFabricSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshCreated(tag: String): String = {
    val p = freshDir(s"graft_fabric_$tag")
    Files.createDirectories(Paths.get(p))
    p
  }

  test("Merge.mergeInto swaps partitions through the Hadoop store on a file:// target") {
    val target = s"file://${freshCreated("merge")}/tbl"
    assert(LogStore.forPath(target) eq HadoopLogStore)
    (0 until 30).map(i => (i.toLong, s"v$i", s"p${i / 10}"))
      .toDF("id", "payload", "part")
      .write.partitionBy("part").parquet(target)

    val stats = Merge.mergeInto(spark, target,
      upserts = Seq((5L, "upd", "p0"), (99L, "new", "p9"))
        .toDF("id", "payload", "part"),
      deleteKeys = Seq(25L).toDF("id"),
      key = "id", partitionCol = "part")
    assert(stats.rewritten.toSet == Set("p0", "p2", "p9") &&
      stats.dropped.isEmpty && stats.upsertRows == 2 && stats.deleteKeys == 1)

    val got = spark.read.parquet(target)
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got(5L) == "upd" && got(99L) == "new" && !got.contains(25L) &&
      got.size == 30)
    // staging is gone; the untouched partition p1 still lists
    val st = LogStore.forPath(target)
    assert(!st.exists(s"$target.__graft_merge_staging"))
    assert(st.list(target).exists { case (n, d) => d && n == "part=p1" })

    // emptying a partition by delete reports it dropped
    val stats2 = Merge.mergeInto(spark, target,
      upserts = spark.emptyDataset[(Long, String, String)]
        .toDF("id", "payload", "part"),
      deleteKeys = Seq(99L).toDF("id"),
      key = "id", partitionCol = "part")
    assert(stats2.dropped == Seq("p9"))
    assert(spark.read.parquet(target).count() == 29)
  }

  test("IncrementalAgg maintains through the Hadoop store: swap on a file:// aggPath") {
    val dir = freshCreated("iagg")
    val aggPath = s"file://$dir/agg"
    def corpus(rows: Seq[(String, Long)]) = rows.toDF("source", "tokens")
    val v1 = corpus(Seq(("a", 10L), ("a", 20L), ("b", 5L)))
    IncrementalAgg.build(v1, Seq("source"), Seq("tokens"))
      .write.parquet(aggPath)

    // change set: one row of a updated (20 -> 25), one c row added
    IncrementalAgg.maintain(spark, aggPath, Seq("source"), Seq("tokens"),
      removedRows = corpus(Seq(("a", 20L))),
      addedRows = corpus(Seq(("a", 25L), ("c", 7L))))
    val expect = IncrementalAgg.build(
      corpus(Seq(("a", 10L), ("a", 25L), ("b", 5L), ("c", 7L))),
      Seq("source"), Seq("tokens"))
      .orderBy("source").collect().toSeq
    assert(spark.read.parquet(aggPath).orderBy("source").collect().toSeq
      == expect, "maintained view == recompute, bit for bit")
    // no staging/old leftovers on the fabric
    val st = LogStore.forPath(aggPath)
    assert(!st.exists(s"$aggPath.__graft_agg_staging") &&
      !st.exists(s"$aggPath.__graft_agg_old"))
  }

  test("Schedule state + runner lock ride the store: file:// state path end-to-end") {
    val dir = freshCreated("sched")
    val statePath = s"file://$dir/state"
    // full-state round trip through HadoopLogStore, atomic replace
    Schedule.writeFullState(statePath, Schedule.SchedState(
      Some(Instant.parse("2026-08-01T00:00:00Z")),
      Some(Schedule.RunFailure(Instant.parse("2026-08-02T00:00:00Z"), 1,
        Instant.parse("2026-08-02T01:00:00Z")))))
    val st = Schedule.readFullState(statePath)
    assert(st.lastCompleted.contains(Instant.parse("2026-08-01T00:00:00Z")))
    assert(st.failure.exists(f => f.attempts == 1 &&
      f.logical == Instant.parse("2026-08-02T00:00:00Z")))
    // absent path reads the empty state (first run = full backfill)
    assert(Schedule.readFullState(s"file://$dir/nope") ==
      Schedule.SchedState(None, None))

    // a due run executes with state + lock on the file:// fabric
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/src")
    val metaJson =
      s"""{"schedule":{"interval":"daily","anchor":"2026-08-01T00:00:00Z"},
         |"dataflows":[{"name":"copy",
         |"sources":[{"name":"in","path":"$dir/src","format":"parquet"}],
         |"transformations":[],
         |"sinks":[{"input":"in","name":"out",
         | "paths":["$dir/out/run_date=$${run_date}"],"format":"parquet",
         | "saveMode":"overwrite"}]}]}""".stripMargin
    val metaPath = s"$dir/pipeline.json"
    Files.writeString(Paths.get(metaPath), metaJson)
    Schedule.writeState(statePath, Instant.parse("2026-08-01T00:00:00Z"))

    // a held lock (claimed through the same store primitive) no-ops
    val store = LogStore.forPath(statePath)
    assert(store.createNew(s"$statePath.lock"))
    assert(ScheduleRunner.runDue(spark, metaPath, statePath, None,
      Instant.parse("2026-08-03T06:00:00Z")).isEmpty,
      "a held lock must refuse (max_active_runs=1)")
    store.delete(s"$statePath.lock")

    val ran = ScheduleRunner.runDue(spark, metaPath, statePath, None,
      Instant.parse("2026-08-03T06:00:00Z"))
    assert(ran == Seq(Instant.parse("2026-08-02T00:00:00Z")))
    assert(spark.read.parquet(s"$dir/out/run_date=2026-08-02").count() == 2)
    assert(Schedule.readState(statePath)
      .contains(Instant.parse("2026-08-02T00:00:00Z")))
    assert(!store.exists(s"$statePath.lock"), "lock released after the run")
  }

  test("putReplace is reader-atomic on the Hadoop store: a concurrent reader never sees a missing path") {
    val dir = freshCreated("replace")
    val p = s"file://$dir/refs.json"
    val st = LogStore.forPath(p)
    st.putReplace(p, "v0".getBytes)
    val missing = new java.util.concurrent.atomic.AtomicInteger(0)
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        if (!st.exists(p)) missing.incrementAndGet()
        else {
          val s = new String(st.read(p))
          if (!s.startsWith("v")) torn.incrementAndGet()
        }
      }
    })
    reader.start()
    (1 to 300).foreach(i => st.putReplace(p, s"v$i".getBytes))
    stop.set(true)
    reader.join(10000)
    assert(missing.get() == 0,
      s"reader observed a missing path ${missing.get()} time(s) mid-replace " +
        "— the FileContext OVERWRITE rename must swap atomically")
    assert(torn.get() == 0)
    assert(new String(st.read(p)) == "v300")
  }

  test("local putIfAbsent is genuinely conditional: a true race has exactly one winner per round") {
    val dir = freshCreated("race")
    (1 to 50).foreach { round =>
      val p = s"$dir/m$round.json"
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = (0 until 4).map { w =>
        new Thread(() => {
          gate.await()
          try { LocalLogStore.putIfAbsent(p, s"writer$w".getBytes); wins.incrementAndGet() }
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        })
      }
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
      assert(wins.get() == 1, s"round $round: ${wins.get()} winners")
      // the winner's bytes are intact (no clobber by a loser)
      assert(new String(LocalLogStore.read(p)).startsWith("writer"))
      // no tmp litter from the losers
      assert(LocalLogStore.list(dir).forall(!_._1.startsWith("_tmp-")))
    }
  }

  test("forPath treats a single-letter prefix as a path, not a scheme") {
    assert(LogStore.forPath("C:/data/t") eq LocalLogStore)
    assert(LogStore.forPath("file:///x") eq HadoopLogStore)
  }
}
