package perfbench

import graft.{Dataflow, ScheduleRunner, SparkEntry}
import graft.meta.{ComputeStatsSpec, MetaLoader, Schedule}
import graft.operators.{LogStore, OpCache, Snapshot, StatsOp}
import graft.sinks.Writers
import graft.sources.Readers
import org.apache.spark.sql.functions.{count, lit, sum}

import java.io.File
import java.time.Instant

/** `pipeline_catchup`: the motor-ingestion flow driven by
  * `ScheduleRunner.runDue`, with `now` advanced one interval per trigger
  * so that every trigger finds exactly one due run, as cron would. An
  * iteration is one trigger. */
object Pipeline {
  def run(c: Ctx, r: Result): Unit = {
    val spark = c.spark
    val tr = c.tracer
    val meta = s"file:${c.work}/motor.json"
    val state = s"file:${c.work}/state/motor.state"
    val days = new File(s"${c.work}/input").list().length
    val sched = MetaLoader.loadFile(meta).schedule.get
    val step = Schedule.intervalOf(sched.interval)
    val anchor = Instant.parse(sched.anchor)
    def logical(i: Int): Instant = anchor.plus(step.multipliedBy(i))

    /** The success path of `ScheduleRunner.runDue` (with `runDueLocked`)
      * and of `Dataflow.run`, call for call, with a span around each layer
      * it enters. It must track those two functions: a change in them moves
      * the untraced figures only, which compare.py reports as drift between
      * the traced and untraced wall per iteration. */
    def tracedTrigger(now: Instant): Seq[Instant] = {
      val store = LogStore.forPath(state)
      val lock = state + ".lock"
      tr.span("meta.bind") {
        store.mkdirs(lock.substring(0, lock.lastIndexOf('/')))
        require(store.createNew(lock), s"lock $lock held")
      }
      try {
        val pipeline = tr.span("meta.load")(MetaLoader.loadFile(meta))
        val flow0 = pipeline.dataflows.head
        val due = tr.span("meta.bind") {
          val st = Schedule.readFullState(state)
          Schedule.dueRuns(sched, st.lastCompleted, now)
            .map(t => t -> Schedule.bind(flow0, t, sched.interval))
        }
        due.foreach { case (t, flow) =>
          val sources = tr.span("sources.read")(
            flow.sources.map(s => s.name -> Readers.read(spark, s)).toMap)
          val frames = tr.span("dataflow.plan")(
            Dataflow.plan(spark, flow.copy(sources = Nil), sources))
          flow.transformations.foreach {
            case s: ComputeStatsSpec if s.outputPath.isDefined =>
              tr.span("stats.write")(StatsOp.writeStatsJson(s.name, s.outputPath.get,
                frames(s"${s.name}_fields"), frames.get(s"${s.name}_validation"),
                frames.get(s"${s.name}_top_errors")))
            case _ =>
          }
          flow.sinks.foreach(k => tr.span("sinks.write")(Writers.write(frames(k.input), k)))
          tr.span("meta.bind")(Schedule.writeFullState(state, Schedule.SchedState(Some(t), None)))
        }
        due.map(_._1)
      } finally tr.span("meta.bind")(store.delete(lock))
    }

    def trigger(now: Instant): Seq[Instant] =
      if (tr.on) tracedTrigger(now)
      else ScheduleRunner.runDue(spark, meta, state, None, now)

    def expectRan(i: Int, ran: Seq[Instant]): Unit =
      if (ran != Seq(logical(i)))
        r.mismatch(s"trigger at ${logical(i + 1)} ran $ran, expected ${logical(i)}")

    val t0 = r.now
    expectRan(0, r.op("first_run")(trigger(logical(1))))
    r.m("cold_s") = r.secsSince(t0)
    var i = 1
    def iteration(timed: Boolean): Unit = {
      expectRan(i, r.op(if (timed) "primary" else "warmup")(trigger(logical(i + 1))))
      i += 1
    }
    // the runs right after the first still run freshly compiled code
    val warmup = c.intArg("warmup-runs")
    for (_ <- 0 until warmup) iteration(timed = false)
    r.m("warmup_runs") = warmup
    r.timedLoop(i < days) {
      tr.op = i
      tr.span("iteration")(iteration(timed = true))
    }
    tr.op = 0
    r.m("runs_executed") = i
    r.m("source_bytes") = (1 + warmup until i).map { d =>
      val dir = new File(s"${c.work}/input/run_date=${logical(d).toString.take(10)}")
      dir.listFiles().map(_.length).sum
    }
  }
}

/** `table_upsert`: a `policies` snapshot table partitioned by region
  * with stats and a bloom filter on the key, then a closed loop over the
  * generated step list: merge commits (upserts plus a few deletes) and
  * periodic merge-on-read range deletes, each followed by point reads of
  * two keys (see gen.UpsertStream), and a grouped scan with every range
  * delete. An iteration is one step.
  *
  * The first `warmup-steps` steps -- a range delete with its scan, then a
  * merge: every kind of operation once -- run untimed, since the first
  * call of each still runs freshly compiled code. The timed loop then runs
  * whole windows of `cycle` steps, so every run has the same mix. */
object Table {
  def run(c: Ctx, r: Result): Unit = {
    val spark = c.spark
    val tr = c.tracer
    val table = s"file:${c.work}/table"
    val steps = Json.elements(Json.read(s"${c.work}/steps.json"))
    val cycle = c.intArg("cycle")
    val warmup = c.intArg("warmup-steps")

    val t0 = r.now
    r.op("create") {
      Snapshot.create(spark, table, spark.read.parquet(s"file:${c.work}/initial.parquet"),
        key = "policy_id", partitionCol = "region",
        statsCols = Seq("policy_id"), bloomCols = Seq("policy_id"))
    }
    r.m("cold_s") = r.secsSince(t0)

    val reads = Seq.newBuilder[Map[String, Any]]
    val scans = Seq.newBuilder[Map[String, Any]]
    val commits = Seq.newBuilder[Map[String, Any]]
    var s = 0
    def step(timed: Boolean): Unit = {
      def op[A](name: String)(body: => A): A = r.op(if (timed) name else "warmup")(body)
      val st = steps(s)
      val n = st.get("step").asInt
      tr.op = if (timed) n else 0
      tr.span("iteration") {
        if (st.get("kind").asText == "merge") {
          val ups = spark.read.parquet("file:" + st.get("ups").asText)
          val dels = spark.read.parquet("file:" + st.get("dels").asText)
          val cs = op("primary")(tr.span("snapshot.merge")(Snapshot.merge(spark, table, ups, dels)))
          if (timed) commits += Map("step" -> n, "partitions_rewritten" -> cs.rewrittenPartitions.size,
            "files_written" -> cs.filesWritten, "upserted_bytes" -> st.get("ups_bytes").asLong)
        } else {
          op("mor_delete")(tr.span("snapshot.mor_delete")(Snapshot.deleteWhereMor(
            spark, table, Seq(("policy_id", st.get("lo").asLong, st.get("hi").asLong)))))
        }
        val present = Json.elements(st.get("present")).map(_.asBoolean)
        Json.elements(st.get("probes")).map(_.asLong).zip(present).foreach { case (key, hit) =>
          // a read that finds its key and one that finds nothing do
          // different work (the bloom filter can rule out every file)
          val got = op(if (hit) "probe" else "miss_read")(tr.span("snapshot.point_read")(
            Snapshot.readWhereEq(spark, table, "policy_id", key).select("rev").collect()))
          val read = Map[String, Any]("step" -> n, "key" -> key,
            "revs" -> got.map(_.getInt(0)).toSeq)
          reads += (if (!(tr.on && timed)) read else {
            // the benchmark's own manifest lookup: kept out of the counts
            CountingLogStore.paused = true
            try {
              val (kept, total) = Snapshot.pruneEq(table, "policy_id", key)
              read ++ Map("files_kept" -> kept.size, "files_total" -> total)
            } finally CountingLogStore.paused = false
          })
        }
        if (st.get("scan").asBoolean) {
          val rows = op("scan")(tr.span("snapshot.scan")(Snapshot.readLatest(spark, table)
            .groupBy("region").agg(count(lit(1)), sum("premium_cents")).collect()))
          scans += Map("step" -> n, "regions" ->
            rows.map(x => x.getString(0) -> Seq(x.getLong(1), x.getLong(2))).toMap)
        }
      }
      s += 1
    }
    while (s < warmup) step(timed = false)
    r.m("warmup_steps") = warmup
    r.timedLoop(s + cycle <= steps.size)(for (_ <- 0 until cycle) step(timed = true))
    tr.op = 0
    r.iterations = s - warmup // an iteration of this workload is one step
    r.m("steps_done") = s
    r.m("reads") = reads.result()
    r.m("scans") = scans.result()
    r.m("commits") = commits.result()
    // the final state and an integrity audit, for the gates
    Snapshot.readLatest(spark, table).write.parquet(s"file:${c.work}/final")
    r.m("fsck") = Snapshot.fsck(spark, table).map(_.toString)
  }
}

/** `catalog_mix`: existing catalog entries through the noop sink, as
  * graft.Bench runs them. One untimed cold pass writes every entry's
  * output for the oracle check; then each timed pass runs the light group
  * `light-reps` times and the heavy group once, each in a seed-shuffled
  * order. An iteration is one pass.
  *
  * The light entries are metadata- and planning-bound; the heavy ones are
  * where the Dedup, Similarity and Graph operators and the sketch kernels
  * run. Entries that read the catalog's shared seven-version documents
  * table are left out: building it costs every run ~10 s of cold commits,
  * and the commit, pruning and point-read paths it would exercise are
  * table_upsert's. */
object Catalog {
  val Light: Seq[String] = Seq("validate_ok", "snapshot_bucket_prune", "snapshot_prefix")
  val Heavy: Seq[String] = Seq("dedup_simhash", "dedup_minhash", "q_pagerank", "sim_ivf",
    "field_stats", "q3_revenue", "q_sessions")

  def run(c: Ctx, r: Result): Unit = {
    val spark = c.spark
    val tr = c.tracer
    val dir = s"${c.work}/catalog"
    val reps = c.intArg("light-reps")
    def query(name: String): org.apache.spark.sql.DataFrame = SparkEntry.queries(name)(spark, dir)
    def cleanup(): Unit = {
      OpCache.releaseAll()
      spark.catalog.clearCache()
    }

    val t0 = r.now
    (Light ++ Heavy).foreach { q =>
      r.op("cold_query") {
        try query(q).write.mode("overwrite").parquet(s"${c.work}/outputs/$q")
        finally cleanup()
      }
    }
    r.m("cold_s") = r.secsSince(t0)
    Json.write(s"${c.work}/outputs/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => Light.contains(k) || Heavy.contains(k) })
    r.m("catalog_entries") = Light.size + Heavy.size

    val rng = new scala.util.Random(c.seed)
    def group(name: String, qs: Seq[String]): Unit = {
      val g0 = r.now
      rng.shuffle(qs).foreach { q =>
        r.op(s"$name.$q") {
          tr.span("query") {
            try query(q).write.format("noop").mode("overwrite").save()
            finally cleanup()
          }
        }
      }
      r.samples.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += r.secsSince(g0)
    }
    r.timedLoop(true) {
      // collected between passes, outside any timing, so no pass pays for
      // garbage an earlier one left
      System.gc()
      tr.op = r.iterations + 1
      tr.span("iteration") {
        for (_ <- 0 until reps) group("probe", Light)
        group("primary", Heavy)
      }
    }
    tr.op = 0
  }
}
