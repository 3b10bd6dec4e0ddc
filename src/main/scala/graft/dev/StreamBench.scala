package graft.dev

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.SessionEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming throughput micro-bench: the batch catalog is timed by
 * `Bench`, but the seven streaming operators were only parity-spec'd —
 * "bounded state" was asserted by construction, never measured. This
 * main drives the four stateful streaming operators from a rate
 * source, lets each run for a fixed wall window, and reports per
 * scenario from `StreamingQueryProgress`:
 *
 *   rows_per_sec   — mean processedRowsPerSecond over settled batches
 *   state_rows     — state-store rows per batch (the series that must
 *                    go FLAT once the watermark starts expiring state;
 *                    a monotone series here is a 100 TB incident)
 *   state_mb       — state-store memory at the last batch
 *
 * Flatness is summarized as last/max of the state-rows series over
 * the second half of the run (1.0 = plateaued; dedup/join state grows
 * until the first watermark expiry, so the first half is warmup).
 *
 *   sbt "runMain graft.dev.StreamBench"   (env: SPARK_GRAFT_STREAM_SECS)
 *
 * Results are committed in STREAMBENCH.md.
 */
object StreamBench {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sb-$tag").toString

  /** Rate stream: `value` is a monotonically increasing Long,
    * `timestamp` the emission time — both event-time-ordered, which is
    * what the watermarked operators expect from a live feed. */
  private def rate(spark: SparkSession, rowsPerSec: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", 8)
      .load()

  final case class Scenario(name: String, build: SparkSession => StreamingQuery)

  def main(args: Array[String]): Unit = {
    val runSecs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "45").toInt
    val spark = graft.GraftSession.local("graft-stream-bench",
      extra = Map("spark.sql.streaming.metricsEnabled" -> "true"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val scenarios = Seq(
      // Gap sessionization: 50k concurrent users -> state is one small
      // struct per active user, independent of stream length.
      Scenario("sessionize", s => {
        val events = rate(s, 400000)
          .select((col("value") % 50000).as("userId"),
            (unix_millis(col("timestamp"))).as("tsMs"))
          .as[SessionEvent]
        StreamingIngest.sessionize(events, gapMs = 2000)
          .writeStream.format("noop")
          .option("checkpointLocation", tmpDir("sess"))
          .outputMode("append").start()
      }),
      // Stream-stream interval join: both sides watermarked, join
      // bounded to +-3s -> each side buffers ~ (delay + within) of
      // history, flat at any runtime. Rate sized UNDER single-box
      // processing capacity: state only plateaus when the watermark
      // keeps up with arrival — an overdriven local run measures
      // backlog, not semantics.
      Scenario("interval_join", s => {
        val l = rate(s, 60000)
          .select((col("value") % 20000).as("k"), col("timestamp").as("lts"))
        val r = rate(s, 60000)
          .select((col("value") % 20000).as("k"), col("timestamp").as("rts"))
        StreamingIngest.joinStreams(l, r, "k", "lts", "rts",
            within = "3 seconds", delay = "3 seconds")
          .writeStream.format("noop")
          .option("checkpointLocation", tmpDir("ij"))
          .outputMode("append").start()
      }),
      // Watermark-bounded exact dedup: 50% duplicate fingerprints;
      // state = fingerprints younger than the 5s horizon.
      Scenario("dedup", s => {
        val docs = rate(s, 400000)
          .select((col("value") / 2).cast("string").as("content"),
            col("timestamp").as("ts"))
        StreamingIngest.dedupStream(docs, "content", "ts", delay = "5 seconds")
          .writeStream.format("noop")
          .option("checkpointLocation", tmpDir("dd"))
          .outputMode("append").start()
      }),
      // CMS heavy-hitters sink: STATELESS foreachBatch (no state
      // store rows at all) — the "state" is the persisted sketch log,
      // whose size is batches × (depth·width·8 B + m keys) regardless
      // of event volume. 20% of traffic lands on 7 hot keys, the rest
      // spreads over 100k. Rate sized UNDER the sink's per-batch
      // fixed cost (the r7 cumulative heap adds a log union-read and
      // a rescore pass per batch — ~8 Spark jobs each): overdriving a
      // foreachBatch sink measures snowballing backlog, not
      // throughput.
      Scenario("cms_heavy_hitters", s => {
        val dir = tmpDir("cms")
        val keys = rate(s, 150000)
          .select(when(col("value") % 5 === 0, col("value") % 7)
            .otherwise(col("value") % 100000).as("k"))
        StreamingIngest.cmsHeavyHittersSink(keys, "k", s"$dir/out", s"$dir/ckpt")
      }),
      // Streaming CDC merge apply: STATELESS foreachBatch (the
      // "state" is the merged table itself) — each micro-batch
      // collapses to last-change-per-key and rewrites only the
      // partitions containing changed keys. Keys spread over 10k ids
      // in 40 hive partitions; ~4% deletes. Rate sized so the
      // per-batch copy-on-write file rewrite keeps up locally: the
      // bound here is partition-rewrite I/O, not row throughput.
      Scenario("cdc_merge", s => {
        val dir = tmpDir("cdc")
        val changes = rate(s, 20000)
          .select((col("value") % 10000).as("k"),
            ((col("value") % 10000) % 40).cast("int").as("part"),
            col("value").as("seq"),
            (col("value") % 23 === 0).as("__deleted"),
            concat(lit("payload-"), col("value")).as("payload"))
        StreamingIngest.cdcMergeSink(changes, s"$dir/target", s"$dir/ckpt",
          key = "k", partitionCol = "part", seqCol = "seq")
      }),
      // HLL distinct sink: STATELESS foreachBatch — one sketch row
      // per group per batch (2^p registers ≈ 4 KB at p=12), however
      // many events pass. Users spread over 2M ids across 8 groups;
      // per-batch work is one groupBy over the batch, no log re-read,
      // so it sustains a higher rate than the CMS sink.
      Scenario("hll_distinct", s => {
        val dir = tmpDir("hll")
        val events = rate(s, 300000)
          .select((col("value") % 2000000).as("user_id"),
            concat(lit("e"), (col("value") % 8)).as("event_type"))
        StreamingIngest.hllDistinctSink(events, "user_id", "event_type",
          s"$dir/out", s"$dir/ckpt")
      }),
      // Streaming MoR erasure: STATELESS foreachBatch — each batch of
      // keys-to-forget becomes ONE deletion-vector commit against a
      // pre-built 200k-row snapshot table (zero data files rewritten;
      // per-batch cost = bloom/stats-pruned key scan + a vector write,
      // so the bound is the commit fixed cost, not row throughput —
      // rate sized like the other foreachBatch sinks).
      Scenario("erasure_mor", s => {
        val dir = tmpDir("erasure")
        val base = s.range(200000).select(col("id"),
          (col("id") % 20).cast("string").as("part"),
          concat(lit("p"), col("id")).as("payload"))
        graft.operators.Snapshot.create(s, s"$dir/tbl", base, "id", "part",
          statsCols = Seq("id"), fileRanges = 8)
        val keys = rate(s, 2000).select((col("value") % 200000).as("id"))
        StreamingIngest.erasureSink(keys, s"$dir/tbl", s"$dir/ckpt")
      }),
      // Watermarked tumbling-window aggregation: state is
      // (#event_types x open windows), dropped 3s past window end.
      Scenario("windowed_agg", s => {
        val events = rate(s, 400000)
          .select(col("timestamp").as("ts"),
            concat(lit("e"), (col("value") % 8)).as("event_type"),
            (col("value") % 100).cast("double").as("value"))
        StreamingIngest.windowedCounts(events, "ts",
            window = "5 seconds", delay = "3 seconds")
          .writeStream.format("noop")
          .option("checkpointLocation", tmpDir("wc"))
          .outputMode("update").start()
      }))

    val out = scenarios.map { sc =>
      val q = sc.build(spark)
      Thread.sleep(runSecs * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // settled batches only: positive input, past the first batch
      val settled = progress.drop(1).filter(_.numInputRows > 0)
      val rps = if (settled.isEmpty) 0.0
        else settled.map(_.processedRowsPerSecond).sum / settled.size
      val stateRows = settled.flatMap(p =>
        p.stateOperators.headOption.map(_.numRowsTotal))
      val stateMb = settled.lastOption.flatMap(p =>
        p.stateOperators.headOption.map(_.memoryUsedBytes / 1e6)).getOrElse(0.0)
      // plateau check over the run's second half
      val half = stateRows.drop(stateRows.size / 2)
      val flat = if (half.isEmpty || half.max == 0) 1.0
        else half.last.toDouble / half.max
      val line =
        s"""{"scenario":"${sc.name}","batches":${settled.size},""" +
          s""""rows_per_sec":${rps.round},"state_rows":[${stateRows.mkString(",")}],""" +
          f""""state_mb_last":$stateMb%.1f,"state_flatness":$flat%.3f}"""
      println(line)
      line
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("streambench_out.json"),
      out.mkString("", "\n", "\n"))
    spark.stop()
  }
}
