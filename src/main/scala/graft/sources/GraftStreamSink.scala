package graft.sources

import graft.operators.Snapshot

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

/**
 * STREAMING WRITE into a graft snapshot table — the sink half of the
 * CDC loop (`readStream.format("graft")` is the read half):
 *
 * {{{
 *   events.writeStream.format("graft")
 *     .option("key", "id").option("partitionCol", "part")
 *     .option("checkpointLocation", ck)
 *     .outputMode("update")
 *     .start("/data/live_table")
 * }}}
 *
 * Each micro-batch lands as ONE transactional [[Snapshot.merge]]
 * commit — upsert on the table key, under the commit lock, with
 * constraints/guards enforced — so the table's version log IS the
 * batch audit trail: any historical state is `readAt` away, a bad
 * batch is one `rollback` away, and readers never see a half-applied
 * batch. A missing table bootstraps at v1 from the first batch
 * (`key`/`partitionCol` options required then; an existing table
 * reads them from its manifest and the options must not disagree).
 *
 * Delivery: at-least-once WITH CONVERGENCE — a replayed batch
 * re-merges the same upserts and commits a content-identical
 * version, so the table state is exactly-once even when the version
 * count is not. A batch is upserts only: there is no sequence
 * ordering, delete flag or write-audit-publish, and the merge's
 * duplicate-key guard refuses a batch with two rows for one key.
 */
private[graft] class GraftStreamSink(path: String,
                                     keyOpt: Option[String],
                                     partitionOpt: Option[String],
                                     statsCols: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the delivered frame is streaming-tagged and refuses ordinary
    // actions — re-wrap as a batch frame (the foreachBatch pattern),
    // then pin it: the commit reads it more than once (planMerge)
    val batch = org.apache.spark.sql.graft.SqlBridge
      .asBatchFrame(data.sparkSession, data).persist()
    try {
      if (!Snapshot.exists(path)) {
        val keys = Snapshot.PartField.splitSpecs(
          keyOpt.getOrElse(throw new IllegalArgumentException(
            "graft sink: creating a new table needs .option(\"key\", <column>)")))
        val parts = Snapshot.PartField.splitSpecs(
          partitionOpt.getOrElse(throw new IllegalArgumentException(
            "graft sink: creating a new table needs " +
              ".option(\"partitionCol\", <column>)")))
        // same comma grammar the validation branch below parses, so a
        // composite/transformed spec creates AND validates
        Snapshot.createMulti(data.sparkSession, path, batch, keys, parts,
          statsCols)
      } else {
        val m = Snapshot.readManifest(path, Snapshot.currentVersion(path))
        // the SAME spec grammar the create branch parses, so the exact
        // option string that created a table always re-validates
        keyOpt.foreach(k => require(
          Snapshot.PartField.splitSpecs(k) == m.keys,
          s"graft sink: option key '$k' disagrees with the table's '${m.keyLabel}'"))
        partitionOpt.foreach(p => require(
          Snapshot.PartField.splitSpecs(p) == m.partitionCols,
          s"graft sink: option partitionCol '$p' disagrees with the " +
            s"table's '${m.partitionLabel}'"))
        Snapshot.merge(data.sparkSession, path, batch,
          batch.limit(0).select(m.keys.map(org.apache.spark.sql.functions.col): _*),
          op = "stream-merge")
      }
      ()
    } finally batch.unpersist()
  }

  override def toString: String = s"GraftStreamSink[$path]"
}
