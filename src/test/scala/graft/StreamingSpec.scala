package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("writeStream.format(graft): each micro-batch is one transactional merge commit; replay converges") {
    import graft.operators.Snapshot
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val (table, ck) = (s"$dir/tbl", s"$dir/ck")
    val stream = MemoryStream[(Long, String, String)]
    def start(ckpt: String) = stream.toDF().toDF("id", "payload", "part")
      .writeStream.format("graft")
      .option("key", "id").option("partitionCol", "part")
      .option("checkpointLocation", ckpt).outputMode("update").start(table)
    val q = start(ck)
    stream.addData((1L, "a", "p0"), (2L, "b", "p1"))
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"sink died: ${q.exception}")
    def rowsOf = Snapshot.readLatest(spark, table)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(Snapshot.currentVersion(table) == 1 &&
      rowsOf == Set((1L, "a", "p0"), (2L, "b", "p1")),
      "first batch bootstraps the table at v1")
    // second batch: upsert an existing key + a new key, ONE commit
    stream.addData((2L, "B", "p1"), (3L, "c", "p0"))
    q.processAllAvailable(); q.stop()
    assert(Snapshot.currentVersion(table) == 2 &&
      rowsOf == Set((1L, "a", "p0"), (2L, "B", "p1"), (3L, "c", "p0")))
    assert(Snapshot.history(table).last._2 == "stream-merge",
      "streamed commits are auditable by op")
    // at-least-once replay CONVERGES: a fresh checkpoint re-delivers
    // every batch; re-merging applied change sets leaves the state
    // content-identical (extra audit versions, same rows)
    val q2 = start(s"$dir/ck2")
    q2.processAllAvailable(); q2.stop()
    assert(rowsOf == Set((1L, "a", "p0"), (2L, "B", "p1"), (3L, "c", "p0")),
      "replayed batches must converge to the same state")
    // Complete mode refused; creating without a key refused
    intercept[Exception] {
      stream.toDF().toDF("id", "payload", "part")
        .groupBy("part").count().writeStream.format("graft")
        .option("checkpointLocation", s"$dir/ck3")
        .outputMode("complete").start(s"$dir/tbl2")
    }
    val qBad = stream.toDF().toDF("id", "payload", "part")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$dir/ck4").start(s"$dir/tbl3")
    stream.addData((9L, "x", "p0"))
    intercept[Exception] { qBad.processAllAvailable() }
    qBad.stop()
    assert(!Snapshot.exists(s"$dir/tbl3"), "refused create must leave nothing")
  }

  test("readStream.format(graft): the change feed as a stream — parity with the follower across merge/DML/compact/rollback; checkpoint restart resumes mid-log") {
    import graft.operators.{IncrementalAgg, Snapshot}
    val dir = java.nio.file.Files.createTempDirectory("graft_cdcstream").toString
    val (table, ck, agg) = (s"$dir/tbl", s"$dir/ck", s"$dir/agg")

    val seed = spark.range(0, 400).select(col("id"),
      (col("id") % 7).as("score"), (col("id") % 4).cast("string").as("part"),
      concat(lit("n"), col("id")).as("note"))
    Snapshot.create(spark, table, seed, "id", "part", fileRanges = 4)
    Snapshot.merge(spark, table,
      upserts = spark.range(380, 420).select(col("id"),
        (col("id") * 2).as("score"), (col("id") % 4).cast("string").as("part"),
        concat(lit("n"), col("id")).as("note")),
      deleteKeys = spark.range(0, 20).select(col("id")))

    val seenVersions = scala.collection.mutable.ArrayBuffer.empty[Int]
    // versions already folded into the view: a replayed one is skipped
    val applied = scala.collection.mutable.Set.empty[Int]
    def runStream(): Unit = {
      val q = spark.readStream.format("graft").load(table)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // one micro-batch may span several versions — apply each in order
          val cached = batch.cache()
          try {
            val vs = cached.select("_version").distinct()
              .collect().map(_.getInt(0)).sorted
            vs.foreach { v =>
              seenVersions.synchronized { seenVersions += v }
              val of = cached.filter(col("_version") === v)
              val removed = of.filter(col("_change") === "removed")
                .drop("_change", "_version")
              val added = of.filter(col("_change") === "added")
                .drop("_change", "_version")
              if (!new java.io.File(agg).exists())
                IncrementalAgg.build(added.limit(0), Seq("part"), Seq("score"))
                  .write.parquet(agg)
              if (applied.add(v))
                IncrementalAgg.maintain(spark, agg, Seq("part"), Seq("score"),
                  removed, added)
            }
          } finally cached.unpersist()
          ()
        }.start()
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      q.stop()
    }
    def viewRows: Set[(String, Long, String)] =
      spark.read.parquet(agg).collect()
        .map(r => (r.getString(r.fieldIndex("part")),
          r.getLong(r.fieldIndex("n")),
          r.getDecimal(r.fieldIndex("sum_score")).toPlainString)).toSet
    def expect: Set[(String, Long, String)] =
      IncrementalAgg.build(Snapshot.readLatest(spark, table),
        Seq("part"), Seq("score")).collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString)).toSet

    runStream() // v1 (create) + v2 (merge)
    assert(viewRows == expect)
    assert(seenVersions.toSet == Set(1, 2))

    // commits of every flavor land while the stream is DOWN; restart
    // from the checkpoint resumes mid-log — only new versions replay
    Snapshot.deleteWhere(spark, table, Seq(("id", 100, 149)))
    Snapshot.updateWhere(spark, table, Seq(("id", 200, 259)),
      Map("score" -> (col("score") + 1000)))
    Snapshot.compact(spark, table, maxFilesPerPartition = 1)
    seenVersions.clear()
    runStream()
    assert(viewRows == expect)
    assert(seenVersions.toSet == Set(3, 4),
      s"restart must resume after v2 and skip the net-zero compact, saw $seenVersions")

    // rollback is just another commit: the feed emits the way BACK
    Snapshot.rollback(spark, table, 2)
    seenVersions.clear()
    runStream()
    assert(viewRows == expect)
    assert(seenVersions.toSet == Set(6))

    // startingVersion=latest: a fresh checkpoint sees only FUTURE commits
    val latestRows = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q2 = spark.readStream.format("graft")
      .option("startingVersion", "latest").load(table)
      .writeStream.option("checkpointLocation", s"$dir/ck2")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_version").distinct().collect().map(_.getInt(0))
        latestRows.synchronized { latestRows ++= vs }
        ()
      }.start()
    q2.processAllAvailable()
    Snapshot.merge(spark, table,
      upserts = spark.range(900, 905).select(col("id"),
        lit(1L).as("score"), (col("id") % 4).cast("string").as("part"),
        concat(lit("n"), col("id")).as("note")),
      deleteKeys = spark.range(0, 0).select(col("id")))
    q2.processAllAvailable()
    assert(q2.exception.isEmpty, s"latest stream died: ${q2.exception}")
    q2.stop()
    assert(latestRows.toSet == Set(7),
      s"startingVersion=latest must see only the post-start commit, saw $latestRows")
    // time-travel pins are refused on streams
    intercept[Exception] {
      spark.readStream.format("graft").option("versionAsOf", 1).load(table)
    }
  }

  test("maxVersionsPerBatch rate-limits the change-feed bootstrap; mid-bootstrap restart resumes; final state == unbounded") {
    import graft.operators.Snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_ratelim").toString
    val (table, ck) = (s"$dir/tbl", s"$dir/ck")

    // a 50-commit log: create + 49 single-row merges — the cold-start
    // shape that would otherwise plan one 50-way union
    Snapshot.create(spark, table,
      spark.range(0, 10).select(col("id"),
        (col("id") % 2).cast("string").as("part")), "id", "part")
    (1 to 49).foreach { i =>
      Snapshot.merge(spark, table,
        upserts = Seq((1000L + i)).toDF("id")
          .select(col("id"), lit(i % 2).cast("string").as("part")),
        deleteKeys = spark.range(0, 0).select(col("id")))
    }
    assert(Snapshot.currentVersion(table) == 50)

    // (batchId -> versions in that batch), accumulated across runs
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var net = 0L // added − removed rows, accumulated
    def reader = spark.readStream.format("graft")
      .option("maxVersionsPerBatch", 10).load(table)
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("_version", "_change").collect()
        batches.synchronized {
          batches += rows.map(_.getInt(0)).distinct.sorted.toSeq
          net += rows.count(_.getString(1) == "added") -
            rows.count(_.getString(1) == "removed")
        }
        ()
      }

    // phase 1: exactly ONE rate-limited batch, then stop mid-bootstrap
    val q1 = sink(reader)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    q1.awaitTermination()
    assert(q1.exception.isEmpty, s"phase-1 died: ${q1.exception}")
    assert(batches.size == 1 && batches.head == (1 to 10),
      s"first batch must carry exactly versions 1..10, got $batches")

    // phase 2: restart from the checkpoint and drain. A restarted
    // capped source may need one idle trigger before its offer passes
    // the committed offset, so drain in a loop under a deadline.
    val q2 = sink(reader).start()
    val deadline = System.currentTimeMillis() + 120000
    while (batches.synchronized(batches.flatten.size) < 50 &&
        System.currentTimeMillis() < deadline) {
      q2.processAllAvailable()
      if (batches.synchronized(batches.flatten.size) < 50) Thread.sleep(200)
    }
    assert(q2.exception.isEmpty, s"phase-2 died: ${q2.exception}")
    q2.stop()

    // every version exactly once, no batch over the cap, ≥5 batches
    assert(batches.flatten.sorted == (1 to 50),
      s"versions must arrive exactly once, got ${batches.flatten.sorted}")
    assert(batches.forall(_.size <= 10),
      s"a batch exceeded maxVersionsPerBatch: ${batches.map(_.size)}")
    assert(batches.size >= 5, s"expected ≥5 bounded batches, got ${batches.size}")
    // final replayed state == the unbounded read's net effect
    assert(net == Snapshot.readLatest(spark, table).count(),
      s"net $net != table count")

    // ROWS budget: the same log under maxRowsPerBatch. Change-set
    // gross rows per version: v1 (create) = 10, each merge rewrites
    // its one-row partition-half... measure from the manifests and
    // assert every batch stays within budget (single oversized
    // commits excepted) and the union is exactly 1..50 again.
    val perV = (1 to 50).map(v =>
      v -> graft.operators.Snapshot.changeRowCount(table, v)).toMap
    val budget = 60L
    val rowBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val q3 = spark.readStream.format("graft")
      .option("maxRowsPerBatch", budget).load(table)
      .writeStream.option("checkpointLocation", s"$dir/ck_rows")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_version").collect().map(_.getInt(0)).distinct.sorted
        rowBatches.synchronized { rowBatches += vs.toSeq }
        ()
      }.start()
    val dl2 = System.currentTimeMillis() + 120000
    while (rowBatches.synchronized(rowBatches.flatten.size) < 50 &&
        System.currentTimeMillis() < dl2) {
      q3.processAllAvailable()
      if (rowBatches.synchronized(rowBatches.flatten.size) < 50) Thread.sleep(200)
    }
    assert(q3.exception.isEmpty, s"rows-budget stream died: ${q3.exception}")
    q3.stop()
    assert(rowBatches.flatten.sorted == (1 to 50),
      s"rows-budget stream must carry every version once, got $rowBatches")
    assert(rowBatches.size >= 3, s"budget $budget must split the log, got 1 batch")
    rowBatches.filter(_.size > 1).foreach { vs =>
      val gross = vs.map(perV).sum
      assert(gross <= budget,
        s"multi-version batch $vs grosses $gross rows > budget $budget")
    }
  }

  test("change-feed schema evolution: identity alignment carries renames losslessly; add/drop/widen fail once with a restart remedy; allowAdditive and nullFill opt-outs") {
    import graft.operators.Snapshot
    import org.apache.spark.sql.streaming.StreamingQuery
    val dir = java.nio.file.Files.createTempDirectory("graft_cdcevo").toString
    val (table, ck) = (s"$dir/tbl", s"$dir/ck")

    Snapshot.create(spark, table,                                       // v1
      spark.range(0, 8).select(col("id"), (col("id") % 3).cast("int").as("score"),
        (col("id") % 2).cast("string").as("part"),
        concat(lit("n"), col("id")).as("note")), "id", "part")
    Snapshot.merge(spark, table,                                        // v2
      upserts = spark.range(8, 12).select(col("id"), lit(7).cast("int").as("score"),
        (col("id") % 2).cast("string").as("part"),
        concat(lit("n"), col("id")).as("note")),
      deleteKeys = spark.range(0, 0).select(col("id")))

    // (version -> rows as (id, colName -> value)) accumulated per run
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Map[String, Any])]
    def start(ckPath: String, opts: Map[String, String] = Map.empty): StreamingQuery = {
      var r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(table).writeStream.option("checkpointLocation", ckPath)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val cols = b.columns
          b.collect().foreach { row =>
            seen.synchronized { seen += ((row.getInt(row.fieldIndex("_version")),
              row.getLong(row.fieldIndex("id")),
              cols.filterNot(Set("id", "_change", "_version"))
                .map(c => c -> row.get(row.fieldIndex(c))).toMap)) }
          }
          ()
        }.start()
    }
    def rootMsg(q: StreamingQuery): String = q.exception.map { e =>
      var c: Throwable = e; while (c.getCause != null) c = c.getCause
      s"${c.getClass.getSimpleName}: ${c.getMessage}"
    }.getOrElse("")
    def mustFail(q: StreamingQuery, needle: String): Unit = {
      intercept[Exception] { q.processAllAvailable() }
      val msg = rootMsg(q)
      assert(msg.contains("StreamSchemaChangedException") &&
        msg.contains(needle) && msg.contains("Restart"),
        s"expected a $needle schema failure with the restart remedy, got: $msg")
      q.stop()
    }

    // ---- RENAME mid-stream is SEAMLESS (physical identity) ----
    val qA = start(ck)                       // pins the v2 schema (note)
    qA.processAllAvailable()
    Snapshot.renameColumn(spark, table, "note", "memo")                 // v3
    Snapshot.merge(spark, table,                                        // v4
      upserts = spark.range(12, 15).select(col("id"), lit(1).cast("int").as("score"),
        (col("id") % 2).cast("string").as("part"),
        concat(lit("m"), col("id")).as("memo")),
      deleteKeys = spark.range(0, 0).select(col("id")))
    qA.processAllAvailable()
    assert(qA.exception.isEmpty, s"rename must not fail the stream: ${qA.exception}")
    val v4 = seen.synchronized(seen.filter(r => r._1 == 4 && r._2 == 13))
    assert(v4.nonEmpty && v4.forall(_._3("note") == "m13"),
      s"post-rename values must flow under the pinned name, got $v4")

    // ---- ADD mid-stream fails once; restart adopts losslessly ----
    Snapshot.addColumn(spark, table, "flag", "int")                     // v5
    Snapshot.merge(spark, table,                                        // v6
      upserts = spark.range(15, 17).select(col("id"), lit(2).cast("int").as("score"),
        (col("id") % 2).cast("string").as("part"),
        concat(lit("m"), col("id")).as("memo"), lit(99).cast("int").as("flag")),
      deleteKeys = spark.range(0, 0).select(col("id")))
    mustFail(qA, "added")
    val qB = start(ck)                       // same checkpoint, re-pins v6
    qB.processAllAvailable()
    assert(qB.exception.isEmpty, s"restart must adopt the add: ${qB.exception}")
    val v6 = seen.synchronized(seen.filter(r => r._1 == 6 && r._2 == 16))
    assert(v6.nonEmpty && v6.forall(r => r._3("flag") == 99 && r._3("memo") == "m16"),
      s"replayed boundary batch must carry the added column, got $v6")

    // ---- DROP mid-stream fails once; restart proceeds without it ----
    Snapshot.dropColumn(spark, table, "flag")                           // v7
    Snapshot.merge(spark, table,                                        // v8
      upserts = spark.range(17, 19).select(col("id"), lit(3).cast("int").as("score"),
        (col("id") % 2).cast("string").as("part"),
        concat(lit("m"), col("id")).as("memo")),
      deleteKeys = spark.range(0, 0).select(col("id")))
    mustFail(qB, "dropped")
    val qC = start(ck)
    qC.processAllAvailable()
    assert(qC.exception.isEmpty, s"restart must adopt the drop: ${qC.exception}")
    val v8 = seen.synchronized(seen.filter(r => r._1 == 8 && r._2 == 18))
    assert(v8.nonEmpty && v8.forall(r => !r._3.contains("flag")),
      s"post-drop schema must not carry the column, got $v8")

    // ---- WIDEN mid-stream fails once (narrowing is lossy) ----
    Snapshot.widenColumn(spark, table, "score", "bigint")               // v9
    Snapshot.merge(spark, table,                                        // v10
      upserts = Seq((19L, 8000000000L, "1", "m19")).toDF("id", "score", "part", "memo"),
      deleteKeys = spark.range(0, 0).select(col("id")))
    mustFail(qC, "type change")
    val qD = start(ck)
    qD.processAllAvailable()
    assert(qD.exception.isEmpty, s"restart must adopt the widening: ${qD.exception}")
    val v10 = seen.synchronized(seen.filter(r => r._1 == 10 && r._2 == 19))
    assert(v10.nonEmpty && v10.forall(_._3("score") == 8000000000L),
      s"post-widen values must arrive at the wide type, got $v10")
    qD.stop()

    // ---- fresh-checkpoint BOOTSTRAP replays ALL history losslessly:
    // pre-rename rows carry values (identity, not null-fill), pre-widen
    // ints upcast, the dropped column stays out, pre-add rows null ----
    seen.synchronized(seen.clear())
    val qE = start(s"$dir/ck_boot")
    qE.processAllAvailable()
    assert(qE.exception.isEmpty, s"bootstrap died: ${qE.exception}")
    val v1 = seen.synchronized(seen.filter(r => r._1 == 1 && r._2 == 5))
    assert(v1.nonEmpty && v1.forall(r => r._3("memo") == "n5" &&
        r._3("score") == 2L && !r._3.contains("flag")),
      s"bootstrap must render history under the current schema losslessly, got $v1")
    qE.stop()

    // ---- allowAdditive: post-pin adds stay invisible, never fail ----
    seen.synchronized(seen.clear())
    val qF = start(s"$dir/ck_add", Map("onSchemaChange" -> "allowAdditive",
      "startingVersion" -> "10"))   // pins the v10 schema, pre-add
    qF.processAllAvailable()
    Snapshot.addColumn(spark, table, "extra", "string")                 // v11
    Snapshot.merge(spark, table,                                        // v12
      upserts = Seq((20L, 1L, "0", "m20", "x")).toDF("id", "score", "part", "memo", "extra"),
      deleteKeys = spark.range(0, 0).select(col("id")))
    qF.processAllAvailable()
    assert(qF.exception.isEmpty, s"allowAdditive must not fail: ${qF.exception}")
    val v12 = seen.synchronized(seen.filter(r => r._1 == 12 && r._2 == 20))
    assert(v12.nonEmpty && v12.forall(r => !r._3.contains("extra")),
      s"allowAdditive keeps post-pin adds invisible until restart, got $v12")
    qF.stop()

    // ---- nullFill: the legacy by-name contract — renamed history
    // null-fills, nothing fails ----
    seen.synchronized(seen.clear())
    val qG = start(s"$dir/ck_nf", Map("onSchemaChange" -> "nullFill"))
    qG.processAllAvailable()
    assert(qG.exception.isEmpty, s"nullFill must never fail: ${qG.exception}")
    val nf1 = seen.synchronized(seen.filter(r => r._1 == 1 && r._2 == 5))
    assert(nf1.nonEmpty && nf1.forall(_._3("memo") == null),
      s"nullFill aligns by name: pre-rename rows null-fill, got $nf1")
    qG.stop()

    // ---- MERGE-CARRIED additive evolution (the schema changes inside
    // a DATA commit, not a metadata-only one): same contract — fail
    // once naming the version, adopt on restart, and the boundary
    // batch's removed-side rows (read under the PARENT schema) render
    // under the new pin losslessly
    seen.synchronized(seen.clear())
    val qH = start(s"$dir/ck_mc")         // pins the v12 schema
    qH.processAllAvailable()
    Snapshot.merge(spark, table,                                        // v13
      upserts = Seq((21L, 9L, "1", "m21", "x21", 5))
        .toDF("id", "score", "part", "memo", "extra", "grade"),
      deleteKeys = spark.range(0, 0).select(col("id")))
    mustFail(qH, "added")
    val qI = start(s"$dir/ck_mc")
    qI.processAllAvailable()
    assert(qI.exception.isEmpty, s"restart must adopt the merge-carried " +
      s"evolution: ${qI.exception}")
    val v13 = seen.synchronized(seen.filter(r => r._1 == 13 && r._2 == 21L))
    assert(v13.nonEmpty && v13.forall(_._3("grade") == 5),
      s"replayed boundary batch must carry the merge-carried column, got $v13")
    qI.stop()

    // malformed mode refused with the option inventory
    val bad = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("onSchemaChange", "bogus").load(table)
        .writeStream.option("checkpointLocation", s"$dir/ck_bad")
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(bad.toString.contains("onSchemaChange") ||
      Option(bad.getMessage).exists(_.contains("onSchemaChange")) ||
      rootCause(bad).contains("onSchemaChange"),
      s"malformed onSchemaChange must name the option, got $bad")
  }

  private def rootCause(e: Throwable): String = {
    var c: Throwable = e; while (c.getCause != null) c = c.getCause
    String.valueOf(c.getMessage)
  }
}
